"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship index-accelerated query at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 +
north-star pipeline ops); each takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL per query (same column names).

Engine state (materialized multi-file table copies + built indexes) is
cached per sf_dir under /tmp so repeated driver invocations reuse the
index store instead of rebuilding.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark import Engine, col
from elephant_twin_spark.functions import scalar, sketches, timeutil
from elephant_twin_spark.operators import kpi, rollup, sessionize, skew, temporal
from elephant_twin_spark.operators.pipeline import (
    chunk,
    decontaminate,
    dedup,
    multimodal,
    lmscore,
    mixture,
    pack,
    quota,
    shard,
    pii,
    profile,
    similarity,
    stats,
    textstats,
    vocab,
)
from elephant_twin_spark.sources import catalog, fsio, tables

# --------------------------------------------------------------------- state

_WORK_BASE = os.environ.get("ETS_WORKDIR", "/tmp/ets_entry")


class _SFState:
    """Per-sf_dir engine state: normalized table copies + index store."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        digest = hashlib.md5(self.sf_dir.encode()).hexdigest()[:10]
        self.work = f"{_WORK_BASE}/{digest}"
        os.makedirs(self.work, exist_ok=True)
        self.engine = Engine(spark, f"{self.work}/index_root")
        self._events = None

    def raw(self, name: str) -> DataFrame:
        return tables.load_sf_table(self.spark, self.sf_dir, name)

    @property
    def events(self) -> str:
        """Multi-file normalized copy of events (file pruning observable)."""
        if self._events is None:
            self._events = tables.materialize(
                self.spark, f"{self.sf_dir}/events.parquet", f"{self.work}/events", num_files=8
            )
        return self._events

    def _index_is_fresh(self, table_path: str, column: str, kind: str = "block") -> bool:
        """The index has a descriptor, and it is fresh against a live
        listing of ``table_path``."""
        idx_dir = catalog.index_dir(self.engine.index_root, table_path, column, kind)
        desc = catalog.read_descriptor(self.spark, idx_dir)
        if desc is None:
            return False
        live = fsio.list_data_files(self.spark, table_path)
        return desc.fresh_files(live) == {p for p, _, _ in live}

    def ensure_block_index(self, table_path: str, column: str) -> None:
        if not self._index_is_fresh(table_path, column):
            self.engine.build_index(table_path, column, num_buckets=4)

    def ensure_text_index(self, table_path: str, text_col: str, id_col: str) -> None:
        if not self._index_is_fresh(table_path, text_col, "text"):
            self.engine.build_text_index(table_path, text_col, id_col)

    def indexed_events(self) -> str:
        p = self.events
        stale = [c for c in ("event_type", "user_id") if not self._index_is_fresh(p, c)]
        if stale:  # one shared scan builds all stale column indexes
            self.engine.build_indexes(p, stale, num_buckets=4)
        return p

    def ensure_bloom_index(self, table_path: str, column: str) -> None:
        if not self._index_is_fresh(table_path, column, "bloom"):
            self.engine.build_bloom_index(table_path, column)

    def ensure_zone_index(self, table_path: str, column: str) -> None:
        if not self._index_is_fresh(table_path, column, "zone"):
            self.engine.build_zone_index(table_path, column)

    def docs_text_index(self):
        p = f"{self.sf_dir}/documents.parquet"
        self.ensure_text_index(p, "text", "doc_id")
        return self.engine.text_index(p, "text")

    def emb_ann_index(self):
        p = f"{self.sf_dir}/embeddings.parquet"
        if not self._index_is_fresh(p, "embedding", "ivf"):
            self.engine.build_ann_index(p, "embedding", "vec_id", nlist=8, max_iter=3)
        return self.engine.ann_index(p, "embedding")

    def docs_lsh_index(self):
        """Persisted LSH bucket index over documents (md5 hashing so the
        bucket assignment is oracle-reproducible)."""
        p = f"{self.sf_dir}/documents.parquet"
        if not self._index_is_fresh(p, "text", "lsh"):
            self.engine.build_lsh_index(
                p, "text", "doc_id", num_perm=4, num_bands=2, shingle_k=1, hash_fn="md5"
            )
        return self.engine.lsh_index(p, "text")

    @property
    def events_time_clustered(self) -> str:
        """Time-range-clustered events copy (expression-index pruning
        observable: one day lives in ~1 file)."""
        dst = f"{self.work}/events_by_time"
        if not os.path.exists(f"{dst}/_SUCCESS"):
            self.raw("events").repartitionByRange(8, "ts").sortWithinPartitions(
                "ts"
            ).write.mode("overwrite").parquet(dst)
        return dst

    @property
    def events_partitioned(self) -> str:
        """Hive-style date-partitioned events copy (S13: the reference's
        YYYY/MM/DD directory convention as partition columns)."""
        dst = f"{self.work}/events_by_date"
        marker = f"{dst}/_ETS_DONE"
        if not os.path.exists(marker):
            df = self.raw("events").withColumn("event_date", F.to_date("ts"))
            df.repartition("event_date").write.partitionBy("event_date").mode(
                "overwrite"
            ).parquet(dst)
            with open(marker, "w") as fh:
                fh.write(tables.LAYOUT_VERSION)
        return dst

    @property
    def events_zordered(self) -> str:
        """Z-order-clustered events copy over (user_id, value) — the
        multi-column locality layout: footer min/max prune a 2-D box
        predicate on EITHER column (``layout.zorder_table``)."""
        dst = f"{self.work}/events_zorder"
        if not os.path.exists(f"{dst}/_SUCCESS"):
            from elephant_twin_spark.operators import layout

            layout.zorder_table(
                self.spark, self.events, dst, ["user_id", "value"], num_files=16
            )
        return dst

    def bucketed_tpch(self) -> tuple:
        """Orders + customer written as BUCKETED tables on the join key
        (``layout.bucket_table``): both sides hash-bucketed into 8
        buckets by custkey and sorted within buckets, so the join needs
        no Exchange on either side — the co-located-join layout a
        100-TB warehouse pays for once at write time. The catalog entry is
        per-session (in-memory metastore) but the parquet lives under
        the work dir; a fresh session re-attaches the existing files
        via ``layout.register_bucketed_table`` (DDL only — the write
        really is paid once; only a missing data dir triggers a
        rewrite). Work dirs are per-sf_dir, single-driver — concurrent
        sessions sharing one work dir would race on the rewrite."""
        from elephant_twin_spark.operators import layout

        suffix = hashlib.md5(self.sf_dir.encode()).hexdigest()[:8]
        names = (f"ets_orders_bkt_{suffix}", f"ets_customer_bkt_{suffix}")
        for name, tbl, key in (
            (names[0], "orders", "o_custkey"),
            (names[1], "customer", "c_custkey"),
        ):
            if self.spark.catalog.tableExists(name):
                continue
            path = f"{self.work}/{name}"
            if os.path.exists(f"{path}/_SUCCESS"):
                layout.register_bucketed_table(
                    self.spark, name, path, [key], 8, sort_cols=[key],
                    schema=self.raw(tbl).schema,
                )
            else:
                layout.bucket_table(
                    self.spark, self.raw(tbl), name, [key], 8,
                    sort_cols=[key], path=path,
                )
        return names


_STATES: dict = {}


def _ann_fixture_base(emb, n: int = 16, dim: int = None) -> list:
    """Vectors ``vec_id 0..n-1`` as plain lists — the fixed-quantizer
    fixture the deterministic ANN oracles rebuild BY vec_id while the
    Spark side indexes by list POSITION. Both contracts fail LOUDLY
    here (contiguity first: an empty/gapped slice must name the gap,
    not die on base[0]) instead of surfacing as a false-red hash
    mismatch in the driver gate."""
    rows = emb.where(F.col("vec_id") < n).orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    assert ids == list(range(n)), f"vec_id 0..{n-1} not contiguous: {ids}"
    base = [[float(x) for x in r["embedding"]] for r in rows]
    if dim is not None:
        assert len(base[0]) == dim, f"embeddings dim {len(base[0])} != {dim}"
    return base


def _query_vec(emb, vec_id: int = 0) -> list:
    """The fixed query-vector fixture (``vec_id == 0`` by convention).
    Same LOUD-failure contract as :func:`_ann_fixture_base`: an absent
    row must name the missing fixture, not surface as a ``'NoneType'
    object is not subscriptable`` three frames deep (the r12
    empty-input sweep caught exactly that at four probe sites)."""
    row = emb.where(F.col("vec_id") == vec_id).first()
    assert row is not None, f"query-vector fixture vec_id={vec_id} absent"
    return [float(x) for x in row["embedding"]]


def _state(spark: SparkSession, sf_dir: str) -> _SFState:
    key = (id(spark), sf_dir)
    if key not in _STATES:
        _STATES[key] = _SFState(spark, sf_dir)
    return _STATES[key]


# --------------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: index-accelerated boolean query on events at sf0.001 —
    build sparse indexes, prune files by postings, residual-filter rows."""
    st = _state(spark, "/root/testdata/sf0.001")
    tbl = st.indexed_events()
    return st.engine.query(
        tbl, (col("event_type") == "purchase") | (col("event_type") == "signup")
    )


# ------------------------------------------------------------------- queries

_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _q_idx_point(spark, sf_dir):
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return st.engine.query(tbl, col("event_type") == "click").select(*_EVENT_COLS)


def _q_idx_and(spark, sf_dir):
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return st.engine.query(
        tbl, (col("event_type") == "click") & (col("user_id") == 7)
    ).select(*_EVENT_COLS)


def _q_idx_or(spark, sf_dir):
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return st.engine.query(
        tbl, (col("event_type") == "signup") | (col("event_type") == "error")
    ).select(*_EVENT_COLS)


def _q_idx_residual(spark, sf_dir):
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return st.engine.query(
        tbl, (col("event_type") == "purchase") & (col("value") > 50.0)
    ).select(*_EVENT_COLS)


def _q_idx_no_match(spark, sf_dir):
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return st.engine.query(tbl, col("event_type") == "does_not_exist").select(*_EVENT_COLS)


def _q_idx_predicate_string(spark, sf_dir):
    """String-predicate front door (F2/§3.1 — the reference's flagship
    Pig entry path, core/retrieval/IndexedPigLoader.java:207-216): a
    SQL-ish predicate STRING is parsed into the IR
    (``plans.expr.parse_predicate``), pushdown-negotiated (the EQ/OR
    side prunes files via postings, the ``value > 10`` comparison
    becomes a residual row filter) and executed through the same
    pruned-scan path as the programmatic ``col()`` queries. First
    driver-oracle evidence for F2 — previously pytest-only (r8)."""
    from elephant_twin_spark.plans import expr as expr_mod

    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    pred = expr_mod.parse_predicate(
        "(event_type = 'purchase' OR event_type = 'signup') AND value > 10"
    )
    return st.engine.query(tbl, pred).select(*_EVENT_COLS)


def _q_idx_predicate_serde(spark, sf_dir):
    """F3 driver evidence (r8 — previously pytest-only): the predicate
    is SERIALIZED to its JSON wire form and parsed back
    (``plans.expr.to_json_dict``/``from_json_dict`` — the reference
    ships expression trees between processes,
    core/retrieval/Expression.java:78-198) before planning, so the
    serde round-trip is on the executed path, not just unit-compared.
    Oracle = the plain WHERE the original predicate denotes."""
    import json as _json

    from elephant_twin_spark.plans import expr as expr_mod

    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    pred = (col("event_type") == "error") | (
        (col("event_type") == "click") & (col("user_id") == 3)
    )
    wire = _json.dumps(expr_mod.to_json_dict(pred))
    back = expr_mod.from_json_dict(_json.loads(wire))
    return st.engine.query(tbl, back).select(*_EVENT_COLS)


def _q_day_interval_render(spark, sf_dir):
    """C4 driver evidence (r8 — previously pytest-only): per (user,
    day) activity span rendered with the reference's MySQL-format
    interval string (``functions.scalar.interval_string``,
    core/util/DateUtil.java:468-471). One map-side-combined aggregate;
    the render is a scalar concat over the aggregated bounds."""
    ev = _state(spark, sf_dir).raw("events")
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.min("ts").alias("_lo"), F.max("ts").alias("_hi"))
        .select(
            "user_id",
            F.col("d").cast("string").alias("d"),
            scalar.interval_string(F.col("_lo"), F.col("_hi")).alias("span"),
        )
    )


def _q_idx_per_key_counts(spark, sf_dir):
    """Per-key counts read from the INDEX itself (postings cnt) — must
    equal full-scan GROUP BY (the reference's verification semantics)."""
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return (
        st.engine.postings(tbl, "event_type")
        .groupBy("key")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _q_bloom_user_lookup(spark, sf_dir):
    """High-cardinality point lookup via the per-file Bloom index
    (O(files) storage; false-positive-only pruning, exact results)."""
    st = _state(spark, sf_dir)
    tbl = st.events
    st.ensure_bloom_index(tbl, "user_id")
    return st.engine.query(tbl, col("user_id") == 42).select(*_EVENT_COLS)


def _q_expr_index_day(spark, sf_dir):
    """Expression index: key = to_date(ts) under the virtual name
    event_date (the reference's pluggable key-extractor surface)."""
    st = _state(spark, sf_dir)
    tbl = st.events_time_clustered
    idx_dir = catalog.index_dir(st.engine.index_root, tbl, "event_date", "block")
    if catalog.read_descriptor(spark, idx_dir) is None:
        st.engine.build_index(tbl, "event_date", key_expr="to_date(ts)", num_buckets=4)
    return st.engine.query(tbl, col("event_date") == "2024-01-05").select(*_EVENT_COLS)


def _q_zone_range_scan(spark, sf_dir):
    """Zone-map range pushdown: ordered predicates prune files by typed
    per-file min/max — beyond the reference's EQ-only contract."""
    st = _state(spark, sf_dir)
    tbl = st.events_time_clustered
    st.ensure_zone_index(tbl, "ts")
    return st.engine.query(
        tbl, (col("ts") >= "2024-01-10") & (col("ts") < "2024-01-12")
    ).select(*_EVENT_COLS)


def _q_sql_front_door(spark, sf_dir):
    """Full SQL statement routed through index pushdown (entry point A
    with SQL in place of Pig)."""
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return st.engine.sql(
        f"SELECT event_id, value FROM '{tbl}' "
        "WHERE event_type = 'purchase' AND value > 10 "
        "ORDER BY value DESC, event_id LIMIT 50"
    )


def _q_agg_lineitem_pricing(spark, sf_dir):
    li = _state(spark, sf_dir).raw("lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_events_hourly(spark, sf_dir):
    ev = _state(spark, sf_dir).raw("events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("ts").alias("max_ts"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_top_users_by_value(spark, sf_dir):
    ev = _state(spark, sf_dir).raw("events")
    return (
        ev.groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("total_value"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("total_value").desc(), F.col("user_id").asc())
        .limit(10)
    )


def _q_date_functions(spark, sf_dir):
    ev = _state(spark, sf_dir).raw("events")
    return ev.select(
        "event_id",
        scalar.format_datetime(F.col("ts"), "compact").alias("compact"),
        scalar.date_id(F.col("ts")).cast("bigint").alias("dateid"),
        scalar.hour_id(F.col("ts")).alias("hourid"),
        scalar.truncate_to_day(F.col("ts")).alias("day_ts"),
        scalar.round_up_to_next_hour(F.col("ts")).alias("next_hour"),
        scalar.format_datetime(F.col("ts"), "mysql").alias("mysql_fmt"),
    )


def _q_md5_digests(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    return docs.select("doc_id", scalar.md5_hex(F.col("text")).alias("digest"))


def _q_text_count(spark, sf_dir):
    ti = _state(spark, sf_dir).docs_text_index()
    return spark.createDataFrame(
        [("spark", ti.count("spark"))], "term string, n bigint"
    )


def _q_text_topn(spark, sf_dir):
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.top_n("merge", 10)


def _q_text_bool_and(spark, sf_dir):
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches("spark AND join")


def _q_text_bool_or(spark, sf_dir):
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches("group OR window")


def _q_text_phrase(spark, sf_dir):
    """Positional phrase query over the postings index (T5 extended)."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches('"sort merge"')


def _q_text_bm25_top(spark, sf_dir):
    """BM25-ranked top-10 (idf from pruned postings, doc-length norms)."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.top_n("spark", 10, scoring="bm25")


def _q_text_phrase_near(spark, sf_dir):
    """Window-proximity phrase: terms within ±2 of the expected offset."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches('"sort merge"~2')


def _q_text_mlt(spark, sf_dir):
    """MoreLikeThis: SMART lnc.ltc cosine over the postings index (doc
    norms idf-free and precomputed; query idf from the pruned read)."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.more_like_this(7, k=10)


def _q_text_prefix(spark, sf_dir):
    """Prefix (multi-term) query: the StartsWith pushes to the
    range-partitioned term column, one contiguous bucket range."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches("s*")


def _q_text_wildcard(spark, sf_dir):
    """Wildcard query: literal-prefix pushdown + JVM-side regex on the
    term dictionary."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches("s?a*")


def _q_text_fuzzy(spark, sf_dir):
    """Fuzzy query (Levenshtein ≤ 1): length-banded term-dictionary scan,
    the Lucene automaton-walk analog."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches("spork~1")


def _q_text_not(spark, sf_dir):
    """Boolean NOT: negated term's presence exposed via the same pruned
    postings read, excluded in the per-doc matched-set eval."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.matches("spark AND NOT join")


def _q_simhash_md5(spark, sf_dir):
    """60-bit md5-based SimHash — the full signature hash-matches a
    DuckDB reformulation (cross-engine determinism of the bit algebra)."""
    docs = _state(spark, sf_dir).raw("documents")
    return dedup.simhash60_md5(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


def _q_dedup_exact_groups(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    return dedup.exact_dup_groups(docs, "text", "doc_id")


def _q_minhash_signatures(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    sigs = dedup.minhash_signatures(
        docs, "text", "doc_id", num_perm=4, shingle_k=1, hash_fn="md5"
    )
    return sigs.withColumnRenamed("id", "doc_id")


def _q_token_stats(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    q = textstats.quality_score(docs, "text")
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("avg_token_len", 4).alias("avg_token_len"),
        F.round("uniq_token_ratio", 4).alias("uniq_token_ratio"),
        F.round("quality_score", 4).alias("quality_score"),
    )


def _q_lang_id(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.lang_id(docs, "text").select("doc_id", "lang_pred")


def _q_fingerprint(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.fingerprint(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


def _q_ann_cosine_top10(spark, sf_dir):
    st = _state(spark, sf_dir)
    emb = st.raw("embeddings")
    qvec = _query_vec(emb)
    top = similarity.cosine_topk(emb, "embedding", "vec_id", qvec, k=10)
    return top.select(
        F.col("id").alias("vec_id"), F.round("cosine", 4).alias("cosine")
    )


def _q_label_centroid_component(spark, sf_dir):
    emb = _state(spark, sf_dir).raw("embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("embedding")[0].cast("double")), 6).alias("avg_c0"),
    )


def _q_knn_join(spark, sf_dir):
    """Exact batch kNN join: 5 query vectors × full corpus, top-5 each
    (broadcast queries, one windowed shuffle keyed by query).

    Bounded exact-oracle demo; the scale path for large query sets is
    `knn_join_ivf_top5` (`similarity.ivf_knn_join`, partition-pruned)."""
    emb = _state(spark, sf_dir).raw("embeddings")
    qs = emb.where(F.col("vec_id") < 5)
    out = similarity.knn_join(
        qs, emb, "vec_id", "embedding", "vec_id", "embedding", k=5
    )
    # + 0.0 collapses IEEE -0.0 (raw cosine in (-5e-7, 0)) to +0.0,
    # mirroring the oracle's `round(cos_raw, 6) + 0.0` exactly
    return out.select(
        "query_id",
        "id",
        (F.round("cosine", 6) + F.lit(0.0)).alias("cosine"),
        "rank",
    )


def _q_ivf_knn_join(spark, sf_dir):
    """IVF-pruned batch kNN join, FULL oracle (r10 — was rows-only
    r2-r9): fixed centroids = corpus vectors 0..7 (`_ann_fixture_base`)
    make the corpus assignment (tie toward the HIGHER centroid id), each
    query's 4-probe set (`probe_queries` array_sort/reverse — same
    tie-break) and the per-query exact-cosine top-5 all
    oracle-reproducible. This is also the production shape: fit the
    quantizer once, serve many join batches against it — the Lloyd fit
    itself stays covered by `test_ivf_knn_join_recall`."""
    emb = _state(spark, sf_dir).raw("embeddings")
    qs = emb.where(F.col("vec_id") < 5)
    cents = _ann_fixture_base(emb, n=8)
    # + 0.0 mirrors the oracle's -0.0 normalization (r10 advisor: a raw
    # cosine in (-5e-7, 0) rounds to -0.0 here but +0.0 in the oracle)
    return similarity.ivf_knn_join(
        qs, emb, "vec_id", "embedding", "vec_id", "embedding",
        k=5, nprobe=4, centroids=cents,
    ).select(
        "query_id",
        "id",
        (F.round("cosine", 6) + F.lit(0.0)).alias("cosine"),
        "rank",
    )


def _q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, SRP-bucketed, FULL oracle (r10
    — was rows-only r2-r9): md5-parity sign planes
    (`similarity.md5_sign_planes`) make the 6-bit buckets
    engine-reproducible, and the operator now thresholds on the
    ROUNDED cosine (round 4 — the `range_search` convention), so the
    oracle reproduces candidates AND the keep/drop decision. The corpus
    is salted with slightly-perturbed copies of the first 50 vectors
    (float32 `x*1.001` — IEEE-exact in any engine) so the gate
    demonstrably recovers planted near-dups (the random synthetic
    embeddings alone contain none above threshold)."""
    emb = _state(spark, sf_dir).raw("embeddings")
    planted = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
        ).alias("embedding"),
    )
    both = emb.select("vec_id", "embedding").unionByName(planted)
    # the oracle SQL hardcodes dim 64 in its plane/bucket CTEs
    dim = len(_ann_fixture_base(emb, n=1, dim=64)[0])
    planes = similarity.md5_sign_planes(dim, bits=6, seed=42)
    return similarity.embedding_near_dup_pairs(
        both, "embedding", "vec_id", threshold=0.98, planes=planes
    ).select("id_a", "id_b", "cosine")


def _q_domain_cap(spark, sf_dir):
    """Per-source quota cap (CCNet-style domain cap): keep the 10
    longest docs per source, deterministic tiebreak on doc_id."""
    docs = _state(spark, sf_dir).raw("documents")
    return quota.per_group_cap(
        docs, "source", cap=10, order_col="n_chars", id_col="doc_id"
    ).select("doc_id", "source", "n_chars")


def _q_doc_keywords(spark, sf_dir):
    """Top-3 TF-IDF keywords per doc from the postings index."""
    ti = _state(spark, sf_dir).docs_text_index()
    return ti.keywords(k=3).select(
        "doc_id", "term", F.round("score", 6).alias("score"), "rank"
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic class-balanced subset: first 20 docs per language by
    md5(id) order — engine-independent 'seedless shuffle'."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.stratified_take(docs, "lang", "doc_id", 20).select(
        "doc_id", "lang", "strat_rank"
    )


def _q_term_pmi(spark, sf_dir):
    """Term co-occurrence PMI from the postings index (document
    frequencies, ordered pairs)."""
    from elephant_twin_spark.operators import text as text_mod

    ti = _state(spark, sf_dir).docs_text_index()
    n_docs = int(ti.desc.options["n_docs"])
    out = text_mod.cooccurrence_pmi(ti.postings(), n_docs, min_df=100)
    return out.select(
        "term_a", "term_b", "n_a", "n_b", "n_ab", F.round("pmi", 6).alias("pmi")
    )


def _q_weekly_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-activity week, distinct
    actives per (cohort, weeks-since) cell."""
    ev = _state(spark, sf_dir).raw("events")
    wk = F.date_trunc("week", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("w")).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.expr("datediff(w, cohort_week) div 7").cast("int").alias("weeks_since"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _q_funnel(spark, sf_dir):
    """Funnel: per-user furthest stage through view→click→purchase
    (greedy earliest-chain; one shuffle, JVM fold over sorted events)."""
    ev = _state(spark, sf_dir).raw("events")
    return sessionize.funnel(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


def _q_edit_distance_join(spark, sf_dir):
    """String-similarity self-join on part names (q-gram candidate
    filter + Levenshtein verify, never the cross product when the gram
    bound applies).

    Bounded exact-oracle demo; at scale the q-gram bucket join IS the
    candidate generator (cost ∝ shared-gram pairs, not n²)."""
    from elephant_twin_spark.operators.pipeline import strings

    names = _state(spark, sf_dir).raw("part").select("p_name")
    out = strings.edit_distance_join(names, names, "p_name", "p_name", max_edits=2)
    return out.where(F.col("p_name_a") < F.col("p_name_b")).select(
        "p_name_a", "p_name_b", F.col("dist").cast("int").alias("dist")
    )


def _q_clean_corpus_audit(spark, sf_dir):
    """Composed cleaning pipeline audit (near-dup stage off: the MinHash
    path is xxhash-based, so the deterministic gates + exact-dedup
    stages form the oracle-matched surface; the full pipeline incl.
    near-dup is pinned by test_clean_corpus_end_to_end)."""
    from elephant_twin_spark.operators.pipeline import clean

    docs = _state(spark, sf_dir).raw("documents")
    _, audit = clean.clean_corpus(
        docs, "text", "doc_id",
        min_tokens=30, allowed_langs=("en",), max_repetition=0.2,
        near_dup=False,
    )
    return audit


def _q_ann_persisted(spark, sf_dir):
    """Persisted IVF index searched with nprobe=nlist — exact by
    construction (all cluster partitions probed), so the DuckDB
    brute-force oracle applies; pruned-nprobe behavior is pinned by
    tests/test_pipeline.py::test_ann_index_persisted."""
    ai = _state(spark, sf_dir).emb_ann_index()
    emb = _state(spark, sf_dir).raw("embeddings")
    q = _query_vec(emb)
    out = ai.topk(q, k=10, nprobe=8)
    return out.select("id", (F.round("cosine", 4) + F.lit(0.0)).alias("cosine"))


def _q_gap_to_prev(spark, sf_dir):
    """lead/lag window shape: seconds since the user's previous event,
    with per-user p95 of that gap — the think-time distribution.

    p95 is the DISCRETE percentile (SQL-standard percentile_disc: the
    smallest data value at cumulative distribution >= 0.95), not the
    interpolated one: a discrete percentile returns an actual gap value
    — micros/1e6, the bit-identical double in any engine — where
    interpolation (lo + frac*(hi-lo)) is FP-evaluation-order-sensitive
    across engines. The r9 sf0.1 full-registry sweep caught exactly
    that: 1 user in 1500 whose interpolated p95 differed from DuckDB's
    in the 10th decimal and rounded to opposite sides of 1e-4
    (126015.7406 vs .7407); percentile_disc matches bit-for-bit on all
    1500, unrounded."""
    from pyspark.sql.window import Window

    ev = _state(spark, sf_dir).raw("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact: ts carries sub-second precision, and a long
    # cast would truncate where the oracle keeps fractions; NTZ-safe
    us = timeutil.epoch_micros(ev, "ts")
    gaps = ev.withColumn(
        "gap_s", (us - F.lag(us).over(w)) / F.lit(1000000.0)
    ).where(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY gap_s)").alias(
            "p95_gap_s"
        ),
    )


def _q_repetition_ratio(spark, sf_dir):
    """Within-doc duplicate-3-gram fraction (Gopher-style repetition
    filter), per-row JVM expression."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.repetition_ratio(docs, "text").select(
        "doc_id", F.round("dup_ngram_ratio", 6).alias("dup_ngram_ratio")
    )


def _q_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per doc (quality signal) —
    per-row nested higher-order functions, no shuffle."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.char_entropy(docs, "text").select(
        "doc_id", F.round("char_entropy", 6).alias("char_entropy")
    )


def _q_containment_pairs(spark, sf_dir):
    """Asymmetric containment on a bounded exact pair set — the measure
    that catches short-doc-embedded-in-long-doc duplication.

    Bounded exact-oracle demo; the scale path generates candidates with
    `dedup.lsh_candidate_pairs` and verifies only those."""
    docs = _state(spark, sf_dir).raw("documents").where(F.col("doc_id") < 450)
    sh = docs.select(F.col("doc_id").alias("id"))
    a, b = sh.alias("a"), sh.alias("b")
    cands = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    out = dedup.containment_verify_pairs(
        cands, docs, "text", "doc_id", threshold=0.9
    )
    return out.select(
        "id_a",
        "id_b",
        F.round("cont_a_in_b", 6).alias("cont_a_in_b"),
        F.round("cont_b_in_a", 6).alias("cont_b_in_a"),
    )


def _q_near_dup_components(spark, sf_dir):
    """Duplicate clusters as connected components (min-label propagation,
    one shuffle per round, lineage cut per round). Pair source here is
    bounded exact 3-gram Jaccard for cross-engine determinism; the
    production path is ``dedup.near_dup_clusters`` (MinHash-LSH pairs
    into the same component operator)."""
    docs = _state(spark, sf_dir).raw("documents").where(F.col("doc_id") < 450)
    sh = docs.select(
        F.col("doc_id").alias("id"), dedup.word_shingles(F.col("text"), 3).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn(
            "j",
            F.size(F.array_intersect("a.sh", "b.sh"))
            / F.size(F.array_union("a.sh", "b.sh")),
        )
        .where(F.col("j") >= 0.8)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return dedup.connected_components(pairs)


def _q_date_partition_range(spark, sf_dir):
    """S13: partition-pruned date-range scan on the date-partitioned copy.

    Read with an EXPLICIT schema — the at-scale habit (no footer
    sampling on a million-file table) and the defined-empty behavior: a
    zero-row write creates no partition directories, so schema
    inference on the bare root throws UNABLE_TO_INFER_SCHEMA (r12
    empty-input sweep)."""
    st = _state(spark, sf_dir)
    part_schema = (
        st.raw("events").withColumn("event_date", F.to_date("ts")).schema
    )
    df = spark.read.schema(part_schema).parquet(st.events_partitioned)
    return df.where(
        (F.col("event_date") >= F.lit("2024-01-10")) & (F.col("event_date") <= F.lit("2024-01-20"))
    ).select(*_EVENT_COLS)


def _q_sessionize(spark, sf_dir):
    ev = _state(spark, sf_dir).raw("events")
    return sessionize.session_stats(ev, "user_id", "ts", gap_seconds=1800)


def _q_streaming_session_counts(spark, sf_dir):
    """Structured Streaming end-to-end (rows-only: streaming emission is
    not ANSI-SQL-expressible): file-source stream over the normalized
    events copy → native ``session_window`` aggregation with a watermark →
    availableNow drain to a memory sink. Returns the FINALIZED sessions
    ``(key, session_start, session_end, n_events)`` — append mode emits a
    session only once the watermark passes it, so each key's open tail
    (sessions ending within 1 h of the max event time) is withheld; the
    emitted set is a deterministic subset of the batch ``session_window``
    result (subset + ≥80 % coverage pinned by
    tests/test_streaming_and_skew.py::test_streaming_session_counts_matches_batch;
    the drain raises on timeout rather than returning a partial table).
    """
    from elephant_twin_spark.streaming import windows as swin

    st = _state(spark, sf_dir)
    path = st.events
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(path)
    )
    sdf = swin.streaming_session_counts(
        stream, ts_col="ts", key_col="user_id", gap="30 minutes", watermark="1 hour"
    )
    name = "ets_stream_sessions_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    swin.run_to_memory(sdf, name, output_mode="append", timeout_sec=180)
    return spark.table(name)


def _q_user_event_types(spark, sf_dir):
    """A4/T3 analog at user granularity: distinct value-set aggregation."""
    ev = _state(spark, sf_dir).raw("events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types")
    )


def _q_date_parse_roundtrip(spark, sf_dir):
    """C1 parse path: format → parse round-trips to second precision."""
    ev = _state(spark, sf_dir).raw("events")
    return ev.select(
        "event_id",
        scalar.parse_datetime(
            scalar.format_datetime(F.col("ts"), "compact"), "compact"
        ).alias("rt_compact"),
        scalar.parse_datetime(
            scalar.format_datetime(F.col("ts"), "mysql"), "mysql"
        ).alias("rt_mysql"),
        scalar.parse_datetime(scalar.format_datetime(F.col("ts"), "date"), "date").alias(
            "rt_date"
        ),
    )


def _q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard for all doc pairs in a bounded id range.

    Bounded exact-oracle demo; the scale path is MinHash+LSH candidates
    (`dedup.lsh_candidate_pairs`) with Jaccard verify on candidates only."""
    docs = _state(spark, sf_dir).raw("documents").where(F.col("doc_id") < 40)
    sh = docs.select(
        F.col("doc_id").alias("id"), dedup.word_shingles(F.col("text"), 3).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.round(
            F.size(F.array_intersect("a.sh", "b.sh"))
            / F.size(F.array_union("a.sh", "b.sh")),
            6,
        ).alias("jaccard"),
    )


def _q_cosine_pairs(spark, sf_dir):
    """Exact pairwise cosine on a bounded id range (double precision).

    Bounded exact-oracle demo; the scale path is SRP-bucketed
    `similarity.embedding_near_dup_pairs` (candidates-only verify)."""
    emb = _state(spark, sf_dir).raw("embeddings").where(F.col("vec_id") < 30)
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    na = F.sqrt(F.aggregate("a.v", F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate("b.v", F.lit(0.0), lambda s, x: s + x * x))
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        # + 0.0 folds IEEE negative zero to +0.0 (oracle parity)
        (F.round(dot / (na * nb), 4) + F.lit(0.0)).alias("cosine"),
    )


def _q_join_revenue_by_nation(spark, sf_dir):
    """Broadcast-join star query (TPC-H Q5-ish slice): revenue by nation."""
    st = _state(spark, sf_dir)
    orders = st.raw("orders")
    customer = st.raw("customer")
    nation = st.raw("nation")
    j = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    return j


def _q_rollup_orders(spark, sf_dir):
    """GROUP BY ROLLUP (absent in the reference, free via Catalyst)."""
    orders = _state(spark, sf_dir).raw("orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def _q_set_ops(spark, sf_dir):
    """Relational set ops: users who clicked but never purchased."""
    ev = _state(spark, sf_dir).raw("events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clickers.exceptAll(buyers).distinct()


def _q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure range-filter aggregation — every predicate
    pushes to the parquet scan (no index needed; footer stats prune)."""
    li = _state(spark, sf_dir).raw("lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def _q_top_unshipped_orders(spark, sf_dir):
    """TPC-H Q3 shape: selective join + agg + global top-N."""
    st = _state(spark, sf_dir)
    c = st.raw("customer").where(F.col("c_mktsegment") == "BUILDING")
    o = st.raw("orders").where(F.col("o_orderdate") < F.lit("1995-03-15"))
    l = st.raw("lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q_above_avg_orders(spark, sf_dir):
    """Scalar-subquery shape: orders above the global average price."""
    orders = _state(spark, sf_dir).raw("orders")
    avg_price = orders.agg(F.avg("o_totalprice")).first()[0]
    return (
        orders.where(F.col("o_totalprice") > F.lit(avg_price))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_priority_fulfilment(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi condition (any lineitem shipped after the order date)."""
    st = _state(spark, sf_dir)
    o = st.raw("orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    l = st.raw("lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two independent dimension paths to the same fact
    row (supplier nation via lineitem, customer nation via orders), both
    broadcast; yearly volume between a nation pair, both directions."""
    st = _state(spark, sf_dir)
    n = st.raw("nation")
    supp_n = (
        st.raw("supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_n = (
        st.raw("customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    l = st.raw("lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = st.raw("orders").select("o_orderkey", "o_custkey")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp_n), l.l_suppkey == supp_n.s_suppkey)
        .join(F.broadcast(cust_n), o.o_custkey == cust_n.c_custkey)
        .where(
            (
                (F.col("supp_nation") == "NATION_3")
                & (F.col("cust_nation") == "NATION_8")
            )
            | (
                (F.col("supp_nation") == "NATION_8")
                & (F.col("cust_nation") == "NATION_3")
            )
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _q_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape (p_retailprice standing in for ps_supplycost):
    profit = revenue - cost per (supplier nation, year), part filtered by
    an infix LIKE that stays residual (no index can serve '%green%')."""
    st = _state(spark, sf_dir)
    p = st.raw("part").where(F.col("p_name").contains("red"))
    n = st.raw("nation")
    s = (
        st.raw("supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    l = st.raw("lineitem")
    # all monetary columns are exactly-2-decimal doubles; computing the
    # profit in decimal makes the mixed-sign sum exact in both engines
    # (a plain double sum hit a 0.005 rounding boundary at sf0.01)
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    amount = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")) - dec(
        "p_retailprice"
    ) * dec("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


def _q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer in a
    quarter; deterministic top-20 (rounded revenue, custkey tiebreak)."""
    st = _state(spark, sf_dir)
    o = st.raw("orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    l = st.raw("lineitem").where(F.col("l_returnflag") == "R")
    c = st.raw("customer")
    n = st.raw("nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def _q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join preserved through an aggregate
    (customers with zero orders count in the c_count=0 bucket)."""
    st = _state(spark, sf_dir)
    c = st.raw("customer").select("c_custkey")
    o = st.raw("orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def _q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio (share of revenue
    from PROMO parts) over one month, part side broadcast."""
    st = _state(spark, sf_dir)
    l = st.raw("lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-06-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    p = st.raw("part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


def _q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: argmax against an aggregated view — the 1-row
    global max is cross-broadcast back, never collected per-key."""
    st = _state(spark, sf_dir)
    l = st.raw("lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = st.raw("supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def _q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: per-part correlated average decorrelated into a
    broadcast agg-join (brand filter makes the agg side tiny)."""
    st = _state(spark, sf_dir)
    p = st.raw("part").where(F.col("p_brand") == "Brand#13").select("p_partkey")
    l = st.raw("lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_li = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = brand_li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        brand_li.join(F.broadcast(avg_q), brand_li.l_partkey == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"))
    )


def _q_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING over a fact-side aggregate feeding an IN
    subquery — the qualifying orderkey set joins back as a semi-join."""
    st = _state(spark, sf_dir)
    l = st.raw("lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
        .select("l_orderkey", "sum_qty")
    )
    o = st.raw("orders")
    c = st.raw("customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def _q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst
    extracts the common l_partkey=p_partkey conjunct so the join stays an
    equi-join with the disjunction as residual."""
    st = _state(spark, sf_dir)
    l = st.raw("lineitem")
    p = st.raw("part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#13") & (F.col("p_size").between(1, 15))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#20") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(20, 30)))
    )
    return j.where(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
        ).alias("revenue")
    )


def _q_late_sole_supplier(spark, sf_dir):
    """TPC-H Q21 shape (nested EXISTS/NOT EXISTS decorrelated): in
    multi-supplier orders, count per supplier the orders where they were
    the ONLY supplier shipping after the order date. One groupBy over
    the order builds both the supplier count and the late-supplier set —
    no self-joins on the fact table."""
    st = _state(spark, sf_dir)
    l = st.raw("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = st.raw("orders").select("o_orderkey", "o_orderdate")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.collect_set(
            F.when(F.col("l_shipdate") > F.col("o_orderdate"), F.col("l_suppkey"))
        ).alias("late_supps"),
    )
    sole_late = per_order.where(
        (F.col("n_supp") > 1) & (F.size("late_supps") == 1)
    ).select("l_orderkey", F.element_at("late_supps", 1).alias("s_suppkey"))
    s = st.raw("supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(s), "s_suppkey")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def _q_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (avg positive balance) + anti
    join (customers with no RECENT orders — every customer has some
    order at this scale, so recency keeps the anti-join non-trivial),
    grouped by nation key."""
    st = _state(spark, sf_dir)
    st.raw("customer").createOrReplaceTempView("ets_q22_customer")
    st.raw("orders").createOrReplaceTempView("ets_q22_orders")
    # scalar subquery (runs as its own tiny job, inlined as a literal —
    # no BroadcastNestedLoopJoin) + NOT EXISTS → left-anti hash join with
    # the date bound pushed into the orders scan
    return spark.sql(
        """
        SELECT c_nationkey,
               count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM ets_q22_customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM ets_q22_customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM ets_q22_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
        GROUP BY c_nationkey
        """
    )


def _q_table_profile(spark, sf_dir):
    """One-pass per-column profiling (n, nulls, exact distinct, range)."""
    ev = _state(spark, sf_dir).raw("events")
    return profile.profile_table(ev, ["user_id", "event_type"])


def _q_grouping_sets(spark, sf_dir):
    """GROUP BY GROUPING SETS — independent groupings in one pass."""
    orders = _state(spark, sf_dir).raw("orders")
    orders.createOrReplaceTempView("_ets_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM _ets_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


def _q_text_retrieve(spark, sf_dir):
    """T6: top hits joined back to stored fields."""
    st = _state(spark, sf_dir)
    ti = st.docs_text_index()
    return ti.retrieve("merge", fields=["lang", "n_chars"], n=5)


def _q_pivot_user_events(spark, sf_dir):
    """Pivot (long → wide): per-user counts of each event type as
    columns (explicit value list keeps the schema deterministic)."""
    ev = _state(spark, sf_dir).raw("events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


def _q_unpivot_order_measures(spark, sf_dir):
    """Unpivot (wide → long): per-status totals of two measures as
    (o_orderstatus, measure, total) rows via stack."""
    orders = _state(spark, sf_dir).raw("orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.selectExpr(
        "o_orderstatus",
        "stack(2, 'price', price, 'n_orders', n_orders) AS (measure, total)",
    )


def _q_json_props_stats(spark, sf_dir):
    """Semi-structured extraction: JSON field pulled JVM-side and
    aggregated (no UDF; the scan stays columnar)."""
    ev = _state(spark, sf_dir).raw("events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


def _q_salted_distinct_users(spark, sf_dir):
    """Skew-resistant two-stage aggregation: distinct users per event
    type via (key, salt) partials — must equal the plain aggregation."""
    ev = _state(spark, sf_dir).raw("events")
    return skew.salted_aggregate(
        ev,
        ["event_type"],
        [F.collect_set("user_id").alias("us")],
        [
            F.size(F.array_distinct(F.flatten(F.collect_list("us")))).alias("n_users"),
        ],
    )


def _q_semi_join_customers(spark, sf_dir):
    """Left-semi join: customers having at least one urgent order."""
    st = _state(spark, sf_dir)
    c = st.raw("customer")
    o = st.raw("orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


def _q_anti_join_customers(spark, sf_dir):
    """Left-anti join: customers with no urgent orders."""
    st = _state(spark, sf_dir)
    c = st.raw("customer")
    o = st.raw("orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def _q_window_top_orders(spark, sf_dir):
    """Window functions (absent in the reference, SURVEY §2.9): top-3
    orders per customer by price, deterministic tiebreak on orderkey."""
    from pyspark.sql.window import Window

    orders = _state(spark, sf_dir).raw("orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


def _q_running_revenue(spark, sf_dir):
    """Running-sum window frame: cumulative customer spend over time."""
    from pyspark.sql.window import Window

    orders = _state(spark, sf_dir).raw("orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_rev"),
    )


def _q_cube_orders(spark, sf_dir):
    """GROUP BY CUBE over (status, priority)."""
    orders = _state(spark, sf_dir).raw("orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


def _q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (median + p95)."""
    li = _state(spark, sf_dir).raw("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
    )


def _q_asof_last_click(spark, sf_dir):
    """As-of join: each purchase annotated with the user's most recent
    click at-or-before it (single-shuffle union+window implementation)."""
    ev = _state(spark, sf_dir).raw("events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return temporal.asof_join(
        purchases, clicks, keys=["user_id"], left_ts="ts", right_ts="click_ts",
        right_values=["click_ts"],
    ).select("event_id", F.col("click_ts").alias("last_click_ts"))


def _q_error_window_counts(spark, sf_dir):
    """Interval join: same-user events inside ±1h of each error event."""
    ev = _state(spark, sf_dir).raw("events")
    intervals = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("iv_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    points = ev.select(F.col("event_id").alias("pt_id"), "user_id", "ts")
    joined = temporal.interval_join(points, intervals, "ts", "start", "end", keys=["user_id"])
    return joined.groupBy("iv_id").agg(F.count(F.lit(1)).alias("n"))


def _q_time_rollup(spark, sf_dir):
    """A5: (bucket, key) counts with max-ts and bounded sorted samples."""
    ev = _state(spark, sf_dir).raw("events")
    r = rollup.time_rollup(ev, "ts", "event_type", "event_id", unit="hour", k_samples=3)
    return r.select(
        "bucket",
        "key",
        "cnt",
        "last_ts",
        F.concat_ws(",", F.transform("samples", lambda x: x.cast("string"))).alias("samples"),
    )


def _q_idx_count_only(spark, sf_dir):
    """Covering-index COUNT: answered from the postings' per-file counts
    with ZERO data files opened (A2 as an index-only aggregate)."""
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    n = st.engine.count(tbl, col("event_type") == "click")
    assert st.engine.last_metrics.scanned_files == 0
    return spark.createDataFrame([(n,)], "cnt bigint")


def _q_idx_distinct_values(spark, sf_dir):
    """Index-only DISTINCT: the column's value domain read from postings
    keys, zero data files opened (second covering-index aggregate)."""
    st = _state(spark, sf_dir)
    tbl = st.indexed_events()
    return st.engine.distinct_values(tbl, "event_type")


def _q_zone_min_max(spark, sf_dir):
    """Index-only MIN/MAX from the zone table's typed per-file bounds
    (third covering-index aggregate)."""
    st = _state(spark, sf_dir)
    tbl = st.events_time_clustered
    st.ensure_zone_index(tbl, "value")
    mn, mx = st.engine.min_max(tbl, "value")
    # Empty table → (None, None), matching the SQL twin's one-row
    # NULL/NULL aggregate (r12 empty-input sweep: float(None) TypeError'd)
    return spark.createDataFrame(
        [(None if mn is None else float(mn), None if mx is None else float(mx))],
        "mn double, mx double",
    )


def _q_value_histogram(spark, sf_dir):
    """Mergeable fixed-bin histogram sketch per key — bin counts are
    EXACT (only quantile interpolation is approximate), so the sketch
    itself passes the value-hash gate."""
    ev = _state(spark, sf_dir).raw("events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    h = ev.groupBy("event_type").agg(
        sketches.histogram_sketch("value", 20, 0.0, 1000.0).alias("hist")
    )
    return h.select(
        "event_type",
        F.concat_ws(",", F.transform("hist", lambda x: x.cast("string"))).alias("hist"),
    )


def _q_quality_top_fraction(spark, sf_dir):
    """Percent-rank quality gate: best 30% of each source by quality
    score (exact path: row_number vs group count, id tiebreak)."""
    docs = _state(spark, sf_dir).raw("documents")
    scored = textstats.quality_score(docs, "text")
    kept = textstats.top_fraction(
        scored, "quality_score", 0.3, group_cols=["source"], id_col="doc_id"
    )
    return kept.select(
        "doc_id", "source", F.round("quality_score", 4).alias("quality_score")
    )


def _q_lsh_gate(spark, sf_dir):
    """Near-dup ingest gate vs the PERSISTED LSH bucket index: every
    7th document, lightly edited, probes the index; bucket collisions →
    exact-Jaccard verify → (is_near_dup, dup_of). md5 MinHash/banding
    so DuckDB reproduces the bucket assignment bit-for-bit."""
    st = _state(spark, sf_dir)
    idx = st.docs_lsh_index()
    docs = st.raw("documents")
    probes = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    out = idx.gate(probes, "text", "doc_id", threshold=0.5)
    return out.select("doc_id", "is_near_dup", "dup_of")


def _q_vocab_top100(spark, sf_dir):
    """Top-100 vocabulary with dense deterministic ids (cnt desc, token
    asc); TakeOrdered cut, id window over the 100 survivors only."""
    docs = _state(spark, sf_dir).raw("documents")
    return vocab.build_vocab(docs, "text", vocab_size=100)


def _q_doc_token_ids(spark, sf_dir):
    """Documents encoded to token-id sequences against the top-20 vocab
    (OOV → -1), order preserved through posexplode + broadcast join."""
    docs = _state(spark, sf_dir).raw("documents")
    v = vocab.build_vocab(docs, "text", vocab_size=20)
    enc = vocab.encode_docs(docs, "text", "doc_id", v)
    return enc.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            ",", F.transform("token_ids", lambda x: x.cast("string"))
        ).alias("token_ids"),
    )


def _q_oov_stats(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    v = vocab.build_vocab(docs, "text", vocab_size=20)
    st = vocab.oov_stats(docs, "text", "doc_id", v)
    return st.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_oov",
        F.round("oov_rate", 6).alias("oov_rate"),
    )


def _q_temperature_weights(spark, sf_dir):
    """Temperature-flattened mixture weights (alpha=0.5) — the
    multilingual up/down-sampling rule, one tiny count aggregate."""
    docs = _state(spark, sf_dir).raw("documents")
    w = mixture.temperature_weights(docs, "lang", alpha=0.5)
    return spark.createDataFrame(
        sorted(w.items()), "lang string, weight double"
    ).select("lang", F.round("weight", 6).alias("weight"))


def _q_normalized_docs(spark, sf_dir):
    """Canonical text normalization (control chars, whitespace runs,
    case) — pure JVM regexp chain, engine-independent output."""
    docs = _state(spark, sf_dir).raw("documents")
    return docs.select(
        "doc_id", textstats.normalize_text(F.col("text")).alias("norm_text")
    )


def _q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample (50 per language, weight =
    doc length) — seeded-md5 exponential draws, engine-independent."""
    docs = _state(spark, sf_dir).raw("documents")
    w = docs.withColumn("w", F.col("n_chars").cast("double"))
    out = textstats.weighted_take(w, "w", 50, "doc_id", group_cols=["lang"])
    return out.select("doc_id", "lang")


# ---- rows-only entries (no ANSI-SQL oracle: engine-specific hashing or
# ---- approximate algorithms; driver records the weaker rows-only check)

def _q_simhash_docs(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents")
    return dedup.simhash64(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


def _q_winnowing_fps(spark, sf_dir):
    docs = _state(spark, sf_dir).raw("documents").where(F.col("doc_id") < 50)
    return textstats.winnowing_fingerprints(docs, "text", "doc_id", k=5, window=4)


def _q_simhash_near_dup(spark, sf_dir):
    """Banded simhash near-dup pairs (md5, bounded slice) — pigeonhole
    recall guarantee makes the bucket-join result EQUAL brute force, so
    the quadratic DuckDB oracle applies exactly."""
    docs = _state(spark, sf_dir).raw("documents").where(F.col("doc_id") < 300)
    return dedup.simhash_md5_near_dup_pairs(docs, "text", "doc_id", max_hamming=3)


def _q_winnowing_md5(spark, sf_dir):
    """Winnowing with the cross-engine md5 hash — full value-hash oracle
    for the sliding-window-min fingerprint selection itself."""
    docs = _state(spark, sf_dir).raw("documents").where(F.col("doc_id") < 50)
    return textstats.winnowing_fingerprints(
        docs, "text", "doc_id", k=5, window=4, hash_fn="md5"
    )


def _q_ann_lsh_top10(spark, sf_dir):
    """SRP-LSH ANN with multiprobe, FULL oracle (r10 — was rows-only
    r2-r9): md5-parity sign planes (`similarity.md5_sign_planes`, the
    same engine-independent family that made `ann_recall_stats`'s lsh
    lane hash-green in r5) replace the Python-RNG Gaussian planes, so
    the oracle reproduces every bucket, the hamming≤2 probe set, and
    the exact cosine re-rank. The SEARCH path (`lsh_cosine_topk`) is
    identical to the Gaussian-plane one — only the plane source
    changes; Gaussian recall behavior stays covered by
    `test_lsh_topk_recall`."""
    st = _state(spark, sf_dir)
    emb = st.raw("embeddings")
    # the oracle SQL hardcodes dim 64 in its plane/bucket CTEs — fail
    # loudly here rather than as a false-red hash mismatch
    qvec = _ann_fixture_base(emb, n=1, dim=64)[0]
    planes = similarity.md5_sign_planes(len(qvec), bits=4, seed=42)
    top = similarity.lsh_cosine_topk(
        emb, "embedding", "vec_id", qvec, k=10, multiprobe_hamming=2, planes=planes
    )
    return top.select(F.col("id").alias("vec_id"), F.round("cosine", 4).alias("cosine"))


def _q_ann_ivf_top10(spark, sf_dir):
    """IVF ANN (coarse quantizer + nprobe cluster scan), FULL oracle
    (r10 — was rows-only r2-r9): fixed centroids = corpus vectors 0..7
    (`_ann_fixture_base`, the r8 `ann_ivf_pq_top10` treatment) let the
    oracle reproduce assignment (tie toward the HIGHER centroid id),
    the 3-probe ranking and the exact cosine top-10. The trained-
    quantizer path (`ivf_fit`, Lloyd) stays covered by
    `test_ivf_topk_exact_when_probing_all` / `test_ivf_knn_join_recall`
    — kmeans iterations are not SQL-expressible, the SEARCH operator
    under gate (`ivf_topk`) is byte-identical either way."""
    st = _state(spark, sf_dir)
    emb = st.raw("embeddings")
    cents = _ann_fixture_base(emb, n=8)
    qvec = cents[0]
    top = similarity.ivf_topk(emb, "embedding", "vec_id", qvec, cents, k=10, nprobe=3)
    return top.select(F.col("id").alias("vec_id"), F.round("cosine", 4).alias("cosine"))


def _q_ann_pq_top10(spark, sf_dir):
    """Product-quantization ANN (per-subspace codebooks, ADC shortlist
    over compressed codes, exact cosine re-rank), FULL oracle (r10 —
    was rows-only r2-r9): fixed codebooks = subvectors of corpus
    vectors 0..15 (the r8 `ann_ivf_pq_top10` treatment) make encode
    (tie toward the LOWER code), the ADC distance table, the
    (dist, id) shortlist and the re-rank all oracle-reproducible. The
    trained-codebook path (`pq_fit`) stays covered by
    `test_pq_encode_and_adc_topk`; the SEARCH path under gate
    (`pq_encode`/`pq_search`) is byte-identical either way."""
    st = _state(spark, sf_dir)
    emb = st.raw("embeddings")
    base = _ann_fixture_base(emb, n=16, dim=64)
    qvec = base[0]
    w = len(base[0]) // 4
    books = [[v[s * w : (s + 1) * w] for v in base] for s in range(4)]
    codes = similarity.pq_encode(emb, "embedding", "vec_id", books)
    top = similarity.pq_search(
        emb, codes, "embedding", "vec_id", qvec, books, k=10, shortlist=100
    )
    return top.select(F.col("id").alias("vec_id"), F.round("cosine", 4).alias("cosine"))


def _q_minhash_near_dup(spark, sf_dir):
    """End-to-end MinHash-LSH near-dup pair dump with the
    engine-independent md5 hash family (``hash_fn="md5"`` threads
    through signatures AND band hashes, `dedup.py` ``_band_hash_exprs``)
    — which makes the ENTIRE pipeline (16 signature lanes → 4 band
    buckets → candidate join → exact 3-shingle Jaccard ≥ 0.7)
    restatable in ANSI SQL: upgraded in r6 from rows-only to a full
    value-hash oracle, the same algebra that turned ``cluster_refresh``
    green in r5. The xxhash64 twin stays the bench default (cheaper
    hash, same plan shape)."""
    docs = _state(spark, sf_dir).raw("documents")
    return dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", num_perm=16, num_bands=4, threshold=0.7,
        hash_fn="md5",
    )


def _q_media_features(spark, sf_dir):
    media = multimodal.synthesize_media_table(spark, f"{sf_dir}/documents.parquet")
    return multimodal.decode_image_features(media, fake=True).select(
        "media_id", "n_bytes", "sha"
    )


def _q_decontaminate_report(spark, sf_dir):
    """Eval-set decontamination: docs sharing a 5-gram with the held-out
    slice (doc_id % 29 == 0) are flagged. Broadcast eval-gram join."""
    docs = _state(spark, sf_dir).raw("documents")
    corpus = docs.where(F.col("doc_id") % 29 != 0)
    eval_df = docs.where(F.col("doc_id") % 29 == 0)
    rep = decontaminate.contamination_report(corpus, eval_df, "text", "doc_id", n=5)
    return rep.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        "contaminated",
    )


def _q_pii_scrub(spark, sf_dir):
    """PII counts + redacted text (identity on the clean fixture; the
    operator is exercised on synthetic PII in tests)."""
    docs = _state(spark, sf_dir).raw("documents")
    counted = pii.pii_counts(docs, "text")
    red = pii.pii_redact(counted, "text", out_col="redacted")
    return red.select(
        "doc_id", F.col("n_pii").cast("bigint").alias("n_pii"), "redacted"
    )


def _q_chunk_docs(spark, sf_dir):
    """Sliding-window chunking (32-token windows, 8 overlap): pure
    higher-order functions, no shuffle — runs at scan speed."""
    docs = _state(spark, sf_dir).raw("documents")
    return chunk.chunk_documents(docs, "text", "doc_id", 32, overlap=8)


def _q_unigram_logprob(spark, sf_dir):
    """Self-trained add-one unigram LM score per document (the
    perplexity-filter proxy): one freq agg + one token join."""
    docs = _state(spark, sf_dir).raw("documents")
    out = lmscore.unigram_logprob(docs, "text", "doc_id")
    return out.select("doc_id", F.round("logprob", 4).alias("logprob"))


def _q_shard_assignment(spark, sf_dir):
    """Deterministic 16-way shard assignment (md5 of doc_id:seed)."""
    docs = _state(spark, sf_dir).raw("documents")
    return shard.assign_shards(docs, "doc_id", 16, seed=0).select(
        "doc_id", "shard_id"
    )


_MIX_WEIGHTS = {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.1, "zh": 0.1}


def _q_mixture_resample(spark, sf_dir):
    """Deterministic language-mixture resample (downsample-only, md5
    order within group) toward 50% en / 15% de,es / 10% fr,zh."""
    docs = _state(spark, sf_dir).raw("documents")
    out = mixture.mixture_resample(docs, "lang", _MIX_WEIGHTS, "doc_id", seed=42)
    return out.select("doc_id", "lang")


def _q_pack_docs(spark, sf_dir):
    """Token-budget sequence packing over doc_id order (prefix-sum window)."""
    docs = _state(spark, sf_dir).raw("documents")
    packed = pack.pack_sequences(docs, "text", "doc_id", budget=256)
    return packed.select(
        "doc_id", "n_tokens", F.col("offset").alias("tok_offset"), "pack_id"
    )


# ----------------------------------------------------- r3-new operators


def _q_market_share(spark, sf_dir):
    """TPC-H Q8-shaped market share: among PROMO-part revenue bought by
    EUROPE customers, the yearly share supplied by NATION_0 suppliers.
    Dims (part/supplier/nation/region) broadcast; one agg shuffle."""
    st = _state(spark, sf_dir)
    li, orders, cust = st.raw("lineitem"), st.raw("orders"), st.raw("customer")
    nat, reg, sup, part = st.raw("nation"), st.raw("region"), st.raw("supplier"), st.raw("part")
    cust_eu = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg.where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sup_nat = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    base = (
        li.join(F.broadcast(part.where(F.col("p_type") == "PROMO")),
                li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_eu, orders.o_custkey == F.col("c_custkey"), "leftsemi")
        .join(F.broadcast(sup_nat), li.l_suppkey == F.col("s_suppkey"))
        .select(F.year("o_orderdate").alias("o_year"), rev.alias("rev"), "supp_nation")
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_0", F.col("rev"))
                      .otherwise(F.lit(0.0)))
                / F.sum("rev"), 6,
            ).alias("mkt_share")
        )
    )


def _q_top_bigrams(spark, sf_dir):
    """Corpus-wide top-20 bigrams (explode + one groupBy + TakeOrdered)."""
    from elephant_twin_spark.operators.pipeline import ngrams

    docs = _state(spark, sf_dir).raw("documents")
    return ngrams.top_ngrams(docs, "text", n=2, k=20)


def _q_exact_substring_dups(spark, sf_dir):
    """Lee et al. exact-substring duplication: 10-token grams shared by
    ≥2 docs (explode distinct grams → one md5-keyed groupBy)."""
    from elephant_twin_spark.operators.pipeline import ngrams

    docs = _state(spark, sf_dir).raw("documents")
    return ngrams.exact_substring_dups(docs, "text", "doc_id", gram_len=10)


def _q_repeated_ngram_coverage(spark, sf_dir):
    """Gopher repetition filter signal: per-doc duplicate-2-gram fraction
    (zero-shuffle higher-order functions)."""
    from elephant_twin_spark.operators.pipeline import ngrams

    docs = _state(spark, sf_dir).raw("documents")
    return ngrams.repeated_ngram_coverage(docs, "text", "doc_id", n=2).withColumnRenamed(
        "id", "doc_id"
    )


def _q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (rolling md5 boundary, expected 8-token
    chunks): (doc, chunk_idx, n_tokens, chunk_md5), boundary decisions
    purely content-local so identical content chunks identically."""
    from elephant_twin_spark.operators.pipeline import ngrams

    docs = _state(spark, sf_dir).raw("documents")
    return ngrams.cdc_chunks(docs, "text", "doc_id", mask=7).withColumnRenamed(
        "id", "doc_id"
    )


def _q_gopher_quality_flags(spark, sf_dir):
    """Gopher rule-based quality flags, one boolean column per rule
    plus the conjunction (auditable filter report)."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.gopher_quality_flags(docs, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


def _q_perplexity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail bucketing by unigram-logprob within
    each language (score pass + one ntile window)."""
    docs = _state(spark, sf_dir).raw("documents")
    return lmscore.perplexity_buckets(docs, "text", "doc_id", group_col="lang").select(
        F.col("id").alias("doc_id"), F.col("grp").alias("lang"), "logprob", "bucket"
    )


def _q_ann_range_search(spark, sf_dir):
    """Range similarity search: all vectors with cosine ≥ 0.2 of the
    query (scan-shaped, predicate prunes before any exchange)."""
    st = _state(spark, sf_dir)
    emb = st.raw("embeddings")
    qvec = _query_vec(emb)
    out = similarity.range_search(emb, "embedding", "vec_id", qvec, 0.2)
    return out.select(
        F.col("id").alias("vec_id"), F.round("cosine", 4).alias("cosine")
    )


def _q_kmeans_assign(spark, sf_dir):
    """Nearest-centroid assignment against 8 fixed centroids (vectors
    0..7) — the IVF coarse-quantizer step in isolation; centroids are
    a bounded driver collect, assignment pure JVM argmax."""
    st = _state(spark, sf_dir)
    emb = st.raw("embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    return similarity.ivf_assign(emb, "embedding", cents).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )


def _q_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket-size histogram per band (md5 lanes so the oracle can
    replay bucket assignment): the near-dup tuning observability query."""
    docs = _state(spark, sf_dir).raw("documents")
    return dedup.lsh_bucket_stats(
        docs, "text", "doc_id", num_perm=4, num_bands=2, shingle_k=1, hash_fn="md5"
    )


def _q_dup_rate_by_source(spark, sf_dir):
    """Exact-dup rate per source domain over the 8-token document head
    (boilerplate detector; corpus-wide digests charged to every group
    they touch)."""
    docs = _state(spark, sf_dir).raw("documents")
    toks = F.split(F.trim("text"), r"\s+")
    headed = docs.withColumn("head", F.concat_ws(" ", F.slice(toks, 1, 8)))
    return dedup.dup_rate_by_group(headed, "head", "source").withColumnRenamed(
        "grp", "source"
    )


def _q_table_profile_approx(spark, sf_dir):
    """profile_table(approximate=True): HLL++ cardinalities — the
    at-scale default (rows-only twin; tolerance pinned in
    tests/test_pipeline.py against the exact profile)."""
    ev = _state(spark, sf_dir).raw("events")
    return profile.profile_table(ev, ["user_id", "event_type"], approximate=True)


def _q_keep_best_per_group(spark, sf_dir):
    """Canonical-document selection: the longest doc per (source, lang),
    deterministic tiebreak on doc_id — the final step of crawl dedup
    (one window shuffle; pre-bucket by the group key at scale)."""
    docs = _state(spark, sf_dir).raw("documents")
    return dedup.canonical_per_group(
        docs, ["source", "lang"], "n_chars", "doc_id"
    ).select("source", "lang", "doc_id", "n_chars")


def _q_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier counts per event type (exact quartile fences
    + one broadcast-joined fence filter)."""
    ev = _state(spark, sf_dir).raw("events").where(F.col("value").isNotNull())
    return stats.iqr_outliers(ev, "value", "event_type").withColumnRenamed(
        "grp", "event_type"
    )


def _q_corr_stats(spark, sf_dir):
    """Per-group bivariate moments on lineitem: corr/covar/stddevs of
    (quantity, extendedprice) in ONE partial-aggregation pass."""
    li = _state(spark, sf_dir).raw("lineitem")
    return stats.grouped_corr(
        li, "l_quantity", "l_extendedprice", "l_returnflag"
    ).withColumnRenamed("grp", "l_returnflag")


def _q_token_len_histogram(spark, sf_dir):
    """Doc token-length histogram in 32-token buckets — the
    sequence-length-distribution diagnostic packing budgets are chosen
    from (one narrow map + a distinct-buckets-sized groupBy)."""
    docs = _state(spark, sf_dir).raw("documents")
    return stats.length_histogram(
        docs, textstats.token_count(F.col("text")), bucket_width=32
    )


def _q_bucket_skew_stats(spark, sf_dir):
    """Shuffle-skew audit for user_id as a partitioning key: rows per
    md5 hash bucket + skew factor vs uniform (md5, not engine hash, so
    the oracle reproduces the exact bucketing)."""
    ev = _state(spark, sf_dir).raw("events").where(F.col("user_id").isNotNull())
    return stats.bucket_skew_stats(ev, "user_id", n_buckets=32)


def _q_tfidf_top_terms(spark, sf_dir):
    """Corpus top-20 terms by TF-IDF (tf * ln((N+1)/(df+1))),
    deterministic term tiebreak."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.tfidf_top_terms(docs, "text", "doc_id", top_n=20, min_df=2)


def _q_pack_efficiency(spark, sf_dir):
    """One-row audit of the budget=256 greedy packing: pack count,
    docs/tokens per pack, mean fill ratio vs budget."""
    docs = _state(spark, sf_dir).raw("documents")
    return pack.pack_efficiency(docs, "text", "doc_id", budget=256)


def _q_consecutive_dedup(spark, sf_dir):
    """Run-length event compaction: per user (ordered by ts, event_id)
    drop events repeating the previous event_type — keeps every state
    TRANSITION, collapses repeats. Returns per-user kept counts."""
    ev = _state(spark, sf_dir).raw("events")
    kept = dedup.drop_consecutive_dups(
        ev, "user_id", ["ts", "event_id"], "event_type"
    )
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("event_id").alias("first_event"),
    )


def _q_minhash_jaccard_error(spark, sf_dir):
    """MinHash accuracy audit: for all pairs in a bounded doc range,
    the 4-lane md5 minhash Jaccard ESTIMATE (matching-lane fraction)
    vs the exact distinct-token Jaccard, plus |error| — the query that
    justifies trusting the sketch at scale. Bounded exact-oracle demo;
    at scale the estimate rides the LSH candidate path
    (`dedup.lsh_candidate_pairs`), never all pairs."""
    docs = _state(spark, sf_dir).raw("documents").where(F.col("doc_id") < 60)
    sigs = dedup.minhash_signatures(
        docs, "text", "doc_id", num_perm=4, shingle_k=1, hash_fn="md5"
    )
    toks = docs.select(
        F.col("doc_id").alias("id"),
        dedup.word_shingles(F.col("text"), 1).alias("t"),
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    est = (
        sum(
            (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int")
            for i in range(4)
        )
        / F.lit(4.0)
    )
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        est.alias("est"),
    )
    ta = toks.select(F.col("id").alias("id_a"), F.col("t").alias("ta"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("t").alias("tb"))
    exact = (
        F.size(F.array_intersect("ta", "tb"))
        / F.size(F.array_union("ta", "tb"))
    )
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round("est", 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(F.col("est") - exact), 6).alias("abs_err"),
        )
    )


def _q_doc_len_quantiles_approx(spark, sf_dir):
    """approx_percentile doc-length quartiles per lang — the
    constant-memory at-scale twin of the exact percentile aggregate
    (rows-only; tolerance vs exact pinned in tests/test_stats.py)."""
    docs = _state(spark, sf_dir).raw("documents")
    return stats.approx_percentiles(
        docs.withColumn("_n", textstats.token_count(F.col("text"))), "_n", "lang"
    ).withColumnRenamed("grp", "lang")


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style pairs: cosine-argmax cluster assignment (fixed
    centroids = the first 8 vectors, matching kmeans_assign), pairwise
    cosine WITHIN clusters only, threshold on the rounded value.
    Quadratic in cluster size, never corpus size — the semantic-dedup
    scale decomposition (pairs drop n^2/2 -> n^2/2k)."""
    emb = _state(spark, sf_dir).raw("embeddings").where(F.col("vec_id") < 500)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    return similarity.semantic_dedup_pairs(
        emb, "embedding", "vec_id", cents, threshold=0.3
    )


# ----------------------------------------------------- r4-new declarations


def _q_bigram_logprob(spark, sf_dir):
    """Self-trained add-one bigram LM score per document (context-
    sensitive fluency: shuffled-word gibberish scores LOWER than fluent
    text even when unigram stats agree). Two vocab-bounded count aggs +
    two token-keyed joins; docs with <2 tokens score null."""
    docs = _state(spark, sf_dir).raw("documents")
    out = lmscore.bigram_logprob(docs, "text", "doc_id")
    return out.select("doc_id", F.round("bigram_logprob", 4).alias("bigram_logprob"))


def _q_js_divergence_by_source(spark, sf_dir):
    """Per-source Jensen-Shannon divergence vs the whole corpus's
    unigram distribution — the crawl-source drift detector. All
    term-keyed aggregates; unobserved-term tail handled analytically."""
    docs = _state(spark, sf_dir).raw("documents")
    out = textstats.js_divergence_by_group(docs, "text", "source")
    return out.select("grp", "n_tokens", "js")


def _q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (BPE-ish subwords per
    whitespace word, chars per subword) — the is-this-tokenizer-
    pathological-on-zh check. One narrow map + one groupBy."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.tokenizer_fertility(docs, "text", "lang")


def _q_code_score(spark, sf_dir):
    """Code-likeness score in [0,1] per doc (symbol density + snake/
    camelCase identifier density) — the prose-vs-source router. Pure
    per-row JVM regex."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.code_score(docs, "text").select("doc_id", "code_score")


def _q_snapshot_diff(spark, sf_dir):
    """Row-level drift between two dataset snapshots (added / removed /
    changed / unchanged counts): old = docs with doc_id % 7 != 0, new =
    docs with doc_id % 5 != 0 and every doc_id % 3 == 0 text rewritten.
    One (id, md5-sig) full-outer join; output is 4 rows."""
    from elephant_twin_spark.operators.pipeline import release

    docs = _state(spark, sf_dir).raw("documents")
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")),
    )
    return release.snapshot_diff(old, new, "doc_id", "text")


def _q_bloom_decontaminate_screen(spark, sf_dir):
    """Bloom-gated contamination screen (fixed 64 Ki-bit array stands in
    for the broadcast eval-gram set — the too-big-to-broadcast eval
    configuration). md5 bit positions, so the flag decision — false
    positives included — is EXACTLY reproducible in the oracle."""
    docs = _state(spark, sf_dir).raw("documents")
    corpus = docs.where(F.col("doc_id") % 29 != 0)
    eval_df = docs.where(F.col("doc_id") % 29 == 0)
    rep = decontaminate.bloom_contamination_report(
        corpus, eval_df, "text", "doc_id", n=5, num_bits=1 << 16, num_hashes=3
    )
    return rep.select("doc_id", "n_grams", "n_flagged", "contaminated")


def _q_kfold_assign(spark, sf_dir):
    """Deterministic 5-fold eval-split assignment: fold = md5(id:seed)
    prefix % k — stable across engines/partitionings, no assignment
    table to store."""
    docs = _state(spark, sf_dir).raw("documents")
    return shard.kfold_assign(docs, "doc_id", k=5, seed=42).select("doc_id", "fold")


def _q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide exact paragraph dedup (the C4 line-level pass) over a
    synthesized multi-paragraph corpus: 100 synthetic docs of 5
    paragraphs, every paragraph planted in exactly TWO docs (paragraph
    source = doc_id % 250), so later copies must drop and first
    occurrences survive. posexplode → winner election on span hash →
    semi-join → reassemble."""
    docs = _state(spark, sf_dir).raw("documents")
    a = docs.select(
        "doc_id",
        (F.col("doc_id") % 250).alias("base"),
        (F.col("doc_id") % 100).alias("sid"),
    )
    b = docs.select(F.col("doc_id").alias("base"), F.col("text").alias("ptext"))
    synth = (
        a.join(b, "base")
        .groupBy("sid")
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id", "ptext"))),
                    lambda s: s["ptext"],
                ),
            ).alias("text")
        )
    )
    return dedup.paragraph_dedup(synth, "text", "sid")


def _q_cms_heavy_hitters(spark, sf_dir):
    """Deterministic (md5-bucketed) count-min sketch: build a 3×1024
    sketch over all corpus tokens, then estimate the 20 true heaviest
    terms — the mergeable heavy-hitter structure whose estimates
    (collisions included) reproduce bit-exactly in the oracle. Sketch
    is depth×width rows however large the corpus; probe side is a
    broadcast join."""
    docs = _state(spark, sf_dir).raw("documents")
    toks = docs.select(F.explode(textstats.tokens(F.col("text"))).alias("term"))
    sk = sketches.cms_table(toks, "term", depth=3, width=1024)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(20)
    )
    return sketches.cms_estimate(top, sk, "term", depth=3, width=1024)


def _q_zipf_slope(spark, sf_dir):
    """Zipf-law slope of ln(freq)~ln(rank) over each language's top-100
    terms — whole-source language-health check (natural text ≈ −1)."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.zipf_slope(docs, "text", "lang", top_n=100)


def _q_sentence_stats(spark, sf_dir):
    """Per-doc sentence count + mean words per sentence (split on
    [.!?]+ runs) — the fragment-spam / wall-of-text quality signal."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.sentence_stats(docs, "text", "doc_id")


def _q_quantile_normalize(spark, sf_dir):
    """Within-language percentile rank of doc length — the score
    normalization that makes a single keep-fraction threshold fair
    across languages. One window shuffle, id tiebreak."""
    docs = _state(spark, sf_dir).raw("documents")
    return stats.quantile_normalize(docs, "n_chars", "doc_id", "lang")


def _q_mad_outliers(spark, sf_dir):
    """Median/MAD robust outlier audit of doc length per language
    (k=3) — heavy-tail-safe twin of the IQR fences."""
    docs = _state(spark, sf_dir).raw("documents")
    return stats.mad_outliers(docs, "n_chars", "lang", k=3.0)


def _q_truncate_tokens(spark, sf_dir):
    """Head-truncate every doc to 32 whitespace tokens with an audit
    flag — the context-window guard before packing."""
    docs = _state(spark, sf_dir).raw("documents")
    return chunk.truncate_tokens(docs, "text", "doc_id", max_tokens=32)


def _q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid in long form (label, pos,
    mean_val) — class prototypes via a scalar-keyed aggregate (no
    vector collect_list on the shuffle)."""
    emb = _state(spark, sf_dir).raw("embeddings")
    # single 6-dp rounding (the operator's own) — re-rounding to 4dp
    # would manufacture exact .5 boundaries where engines disagree
    return similarity.label_centroids(emb, "embedding", "label")


def _q_curriculum_interleave(spark, sf_dir):
    """Round-robin curriculum order: rank docs within each language by
    length (best first, id tiebreak), interleave groups via an
    analytic global position — no global sort; the layout write is a
    range-partitioned sort on global_pos."""
    from elephant_twin_spark.operators.pipeline import curriculum

    docs = _state(spark, sf_dir).raw("documents")
    return curriculum.curriculum_interleave(docs, "doc_id", "n_chars", "lang")


def _q_sliding_distinct_users(spark, sf_dir):
    """Thin wrapper over :func:`kpi.sliding_distinct` (1h window, 30min
    slide — each event lands in exactly two windows; exact distinct per
    window). The batch twin of the streaming windowed aggregation
    surface."""
    ev = _state(spark, sf_dir).raw("events")
    return kpi.sliding_distinct(ev, "ts", "user_id").select(
        "win_start", F.col("n_distinct").alias("n_users")
    )


def _q_rolling_avg_value(spark, sf_dir):
    """Thin wrapper over :func:`kpi.rolling_mean`: per-user rolling mean
    of `value` over the current + 2 previous events (ts, event_id
    order) — the bounded-frame window aggregate, one user-keyed window
    shuffle."""
    ev = _state(spark, sf_dir).raw("events")
    return kpi.rolling_mean(
        ev, "value", ["user_id"], ["ts", "event_id"], preceding=2
    ).select(
        "event_id", "user_id", F.round(F.col("roll_mean"), 6).alias("roll_avg")
    )


def _q_error_rate_anomaly(spark, sf_dir):
    """Thin wrapper over :func:`kpi.rate_anomaly`: hourly error-rate
    z-score vs the all-hours mean/σ, |z| > 2 flagged on the ROUNDED z
    (both engines) so the boundary decision is deterministic."""
    ev = _state(spark, sf_dir).raw("events")
    return kpi.rate_anomaly(
        ev, "ts", F.col("event_type") == "error", bucket="hour", z_threshold=2.0
    )


def _q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: BM25 top-50 for 'spark' fused with dense
    cosine top-50 for vector 0 (vec_id ≡ doc_id) by reciprocal-rank
    fusion, top 20 out. Ranks are assigned on ROUNDED scores with id
    tiebreaks so the fused ranking is engine-deterministic; both
    candidate lists are bounded before fusion (the corpus is never
    touched by the fuse step)."""
    from pyspark.sql.window import Window

    st = _state(spark, sf_dir)
    ti = st.docs_text_index()
    bm = ti.top_n("spark", 50, scoring="bm25").select(
        "doc_id", F.round("score", 6).alias("_s")
    )
    wb = Window.partitionBy(F.lit(1)).orderBy(
        F.col("_s").desc(), F.col("doc_id").asc()
    )
    bm_ranked = bm.select(
        F.col("doc_id").alias("id"), F.row_number().over(wb).alias("rank")
    )
    emb = st.raw("embeddings")
    qvec = _query_vec(emb)
    cos = similarity.cosine_topk(emb, "embedding", "vec_id", qvec, k=50).select(
        "id", F.round("cosine", 4).alias("_c")
    )
    wc = Window.partitionBy(F.lit(1)).orderBy(F.col("_c").desc(), F.col("id").asc())
    cos_ranked = cos.select("id", F.row_number().over(wc).alias("rank"))
    return similarity.rrf_fuse([bm_ranked, cos_ranked], k=60, top=20)


def _q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: recency (last order date), frequency
    (order count), monetary (total spend) → quartile each metric with
    custkey tiebreaks → segment label. One customer-keyed aggregate +
    three entity-table ntile windows (fence-based bucketing is the
    billion-entity alternative, see stats.ntile_segments)."""
    orders = _state(spark, sf_dir).raw("orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    seg = stats.ntile_segments(
        per_cust,
        "o_custkey",
        {"recency": True, "frequency": True, "monetary": True},
        n=4,
    )
    return seg.select(
        "o_custkey", "recency_q", "frequency_q", "monetary_q", "segment"
    )


def _q_salted_join_revenue(spark, sf_dir):
    """Skew-salted equi-join (random salt on the fact side, salt-
    replicated dim side) MUST return exactly the plain-join answer —
    declared with the plain join as its oracle, so the driver pins the
    equivalence the skew machinery promises."""
    from elephant_twin_spark.operators import skew

    st = _state(spark, sf_dir)
    o = st.raw("orders").withColumnRenamed("o_custkey", "custkey")
    c = st.raw("customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = skew.salted_join(o, c, "custkey", num_salts=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def _q_hist_quantile_est(spark, sf_dir):
    """Mergeable fixed-bin histogram sketch → median estimate per
    language: bin counts are EXACT (so the estimate is deterministic
    and fully oracle-checkable); only the in-bin interpolation is
    approximate, bounded by bin width. The constant-size quantile
    structure a per-partition rollup can merge by vector-add."""
    docs = _state(spark, sf_dir).raw("documents")
    h = docs.groupBy(F.col("lang").alias("grp")).agg(
        sketches.histogram_sketch("n_chars", 64, 0.0, 640.0).alias("hist")
    )
    return h.select(
        "grp",
        F.round(
            sketches.histogram_quantile("hist", 0.5, 64, 0.0, 640.0), 6
        ).alias("p50_est"),
    )


def _q_ann_ivf_pq_top10(spark, sf_dir):
    """Combined IVF+PQ ANN (coarse prune → ADC shortlist → exact
    re-rank) — the classic billion-scale layout.

    r8: FULL oracle (was rows-only since r4 — r7 verdict #5). Fixed
    deterministic quantizers — centroids = vectors 0..7, codebooks =
    subvectors of vectors 0..15, the same treatment that turned
    `ann_recall_stats` hash-green in r5 — let the oracle reproduce the
    coarse assignment, the 4-probe, the per-subspace codes, the ADC
    shortlist and the exact re-rank end-to-end. The SEARCH path under
    test (`similarity.ivf_pq_search`) is byte-identical to the one a
    trained `ivf_fit`/`pq_fit` would feed."""
    st = _state(spark, sf_dir)
    emb = st.raw("embeddings")
    # the oracle SQL hardcodes subvector width 16 (dim 64 / m 4) —
    # _ann_fixture_base guards both that and the positional contract
    base = _ann_fixture_base(emb, n=16, dim=64)
    qvec = base[0]
    cents = base[:8]
    w = len(base[0]) // 4
    books = [[v[s * w : (s + 1) * w] for v in base] for s in range(4)]
    top = similarity.ivf_pq_search(
        emb, "embedding", "vec_id", qvec, cents, books, k=10, nprobe=4, shortlist=50
    )
    return top.select(F.col("id").alias("vec_id"), F.round("cosine", 4).alias("cosine"))


def _q_ann_recall_stats(spark, sf_dir):
    """Recall@10 audit of the approximate ANN family (VERDICT r4 #4):
    LSH (md5 sign planes), IVF (fixed centroids = vectors 0..7), PQ
    (fixed codebooks = subvectors of vectors 0..15) and IVF+PQ, each
    measured against exact cosine_topk ground truth over query vectors
    0..7. Every component is md5-/fixed-vector-deterministic, so the
    oracle reproduces each method's candidate set exactly — the five
    rows-only ANN entries gain a measured-quality green twin."""
    emb = _state(spark, sf_dir).raw("embeddings")
    base = _ann_fixture_base(emb, n=16)
    cents = base[:8]
    w = len(base[0]) // 4
    books = [[v[s * w : (s + 1) * w] for v in base] for s in range(4)]
    return similarity.ann_recall_audit(
        emb, "embedding", "vec_id", list(range(8)), cents, books,
        k=10, bits=4, seed=42, nprobe_ivf=2, nprobe_ivfpq=4,
        shortlist=50, multiprobe_hamming=1,
    )


def _q_session_duration_stats(spark, sf_dir):
    """Thin wrapper over :func:`sessionize.session_kpis`: per user,
    session count, bounce count (1-event sessions), mean session
    duration seconds and mean events per session — one extra user-keyed
    aggregate over the session_stats output (same single window
    shuffle, reused exchange)."""
    ev = _state(spark, sf_dir).raw("events")
    return sessionize.session_kpis(ev, "user_id", "ts", gap_seconds=1800)


def _q_cluster_refresh(spark, sf_dir):
    """Incremental cluster maintenance, FULL oracle (r5 — was
    rows-only): a probe batch of 60 modified corpus docs + 2 planted
    novel duplicates is placed into an existing clustering via the
    persisted LSH index; matched docs inherit the cluster of their
    lowest verified corpus match, the unmatched remainder is
    star-clustered among itself. md5 hashing on BOTH stages
    (``hash_fn="md5"`` for the novel-remainder clustering too), so the
    oracle reproduces gate, star candidate graph, Jaccard verify and
    min-label components exactly — the same algebra `lsh_gate` and
    `near_dup_components` pin individually."""
    st = _state(spark, sf_dir)
    idx = st.docs_lsh_index()
    docs = st.raw("documents")
    existing = docs.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("cluster_id")
    )
    probe = docs.where(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" probe")).alias("text"),
    )
    novel = spark.createDataFrame(
        [
            (20_000_000, "planted novel duplicate pair for refresh check"),
            (20_000_001, "planted novel duplicate pair for refresh check"),
        ],
        "doc_id long, text string",
    )
    batch = probe.unionByName(novel)
    return dedup.refresh_clusters(
        batch, "text", "doc_id", existing, idx, threshold=0.5,
        num_perm=8, num_bands=4, shingle_k=1, hash_fn="md5",
    )


def _q_kmv_distinct_users(spark, sf_dir):
    """KMV (k-minimum-values) distinct sketch: estimate distinct users
    per event type from the 64 smallest md5 hashes, reported against
    the exact count with |error| — like the md5-CMS, the hash is
    engine-independent so even the ESTIMATE is oracle-checkable
    (HLL's register layout never is). The synopsis is 64 doubles per
    key and merges exactly (union + re-min, pinned in pytest)."""
    ev = _state(spark, sf_dir).raw("events")
    syn = sketches.kmv_synopsis(ev, "event_type", "user_id", k=64)
    est = sketches.kmv_estimate(syn, k=64)
    exact = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "key").select(
        "key",
        "distinct_est",
        "exact_distinct",
        F.round(F.abs(F.col("distinct_est") - F.col("exact_distinct")), 4).alias(
            "abs_err"
        ),
    )


def _q_time_decay_score(spark, sf_dir):
    """Thin wrapper over :func:`kpi.time_decay_score`: ``Σ value ·
    exp(−Δt/τ)`` per user with Δt measured from the corpus max
    timestamp (τ = 7 days) — the recency-weighted feature aggregation
    every ranking pipeline computes. ts is TIMESTAMP_NTZ: the library
    casts NTZ→timestamp under the UTC session, exactly epoch_us in
    DuckDB."""
    ev = _state(spark, sf_dir).raw("events")
    return kpi.time_decay_score(
        ev, "user_id", "ts", "value", tau_seconds=7.0 * 86400.0
    ).select(
        "user_id", F.round(F.col("decay_score"), 4).alias("decay_score"), "n_events"
    )


def _q_winsorized_stats(spark, sf_dir):
    """Thin wrapper over :func:`stats.winsorized_stats`: clip doc
    length at each language's exact [p05, p95] fences, report mean
    before/after and the clipped-row count — the outlier-tolerant
    summary that pairs with the MAD audit."""
    docs = _state(spark, sf_dir).raw("documents")
    return stats.winsorized_stats(docs, "n_chars", "lang", lo=0.05, hi=0.95)


def _q_cms_error_stats(spark, sf_dir):
    """CMS accuracy audit (the sketch twin of minhash_jaccard_error):
    estimate EVERY distinct term's frequency from the 3×256 sketch and
    report the overestimate distribution — ``(n_terms, n_exact,
    max_over, sum_over)``. Deliberately small width so collisions DO
    occur and the oracle must reproduce them bit-exactly."""
    docs = _state(spark, sf_dir).raw("documents")
    toks = docs.select(F.explode(textstats.tokens(F.col("text"))).alias("term"))
    sk = sketches.cms_table(toks, "term", depth=3, width=256)
    truth = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    est = sketches.cms_estimate(truth, sk, "term", depth=3, width=256)
    over = F.col("est_cnt") - F.col("cnt")
    return est.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum((over == 0).cast("long")).alias("n_exact"),
        F.max(over).alias("max_over"),
        F.sum(over).alias("sum_over"),
    )


def _q_index_advisor(spark, sf_dir):
    """Index advisor (M4's planning side): given a 4-predicate workload,
    recommend block/bloom/zone per referenced column from ONE profiling
    aggregate. The oracle recomputes the same decision rule with exact
    distinct counts — the chosen workload's ratios sit far from the
    0.01 block/bloom threshold, so the HLL estimate cannot flip a
    recommendation."""
    from elephant_twin_spark.operators import advisor

    st = _state(spark, sf_dir)
    recs = advisor.advise_indexes(
        spark,
        st.events,
        [
            "event_type = 'click'",
            "event_type = 'purchase' AND value > 10",
            "user_id = 7",
            "ts >= '2024-01-10'",
        ],
    )
    rows = [
        (r["column"], r["n_refs"], ",".join(r["ops"]), r["recommendation"])
        for r in recs
    ]
    return spark.createDataFrame(
        rows, "col_name string, n_refs int, ops string, recommendation string"
    )


def _q_scd2_user_state(spark, sf_dir):
    """SCD2 history from the event changelog: per user, one row per
    event_type run with [effective_from, effective_to) validity and an
    is_current flag — :func:`temporal.scd2_intervals`, keyed on
    user_id, ordered by (ts, event_id)."""
    ev = _state(spark, sf_dir).raw("events")
    return temporal.scd2_intervals(
        ev, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )


def _q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (:func:`kpi.transition_matrix`): (from, to, n, p) with p
    row-normalized out of from_state."""
    ev = _state(spark, sf_dir).raw("events")
    return kpi.transition_matrix(
        ev, "user_id", "ts", "event_type", tiebreak="event_id"
    )


def _q_item_cf_cosine(spark, sf_dir):
    """Item-item collaborative-filtering cosine over the user x
    event_type interaction matrix — sparse-vector similarity without
    materializing the matrix (:func:`similarity.cooccurrence_cosine`)."""
    ev = _state(spark, sf_dir).raw("events")
    return similarity.cooccurrence_cosine(ev, "user_id", "event_type")


def _q_sq8_error_stats(spark, sf_dir):
    """Int8 scalar-quantization audit over the embeddings: per-dim
    (n, vmin, vmax, exact integer code sum, worst reconstruction
    error). Deliberately sum-of-int / max-of-double evidence — bit-
    stable across engines, like cms_error_stats
    (:func:`similarity.scalar_quantize_stats`)."""
    emb = _state(spark, sf_dir).raw("embeddings")
    return similarity.scalar_quantize_stats(emb, "embedding", bits=8)


def _q_heaps_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary-growth checkpoint curve + log-log slope in
    doc_id order (:func:`textstats.heaps_slope`; 50 id-range buckets).
    Measured over 3-token shingles: the synthetic corpus has a closed
    31-word unigram vocabulary (the unigram curve saturates in the first
    bucket, making the slope a degenerate 0 of pure float noise — the
    round-5 driver hash failure), while its 3-shingle vocabulary grows
    genuinely (~16k distinct at sf0.01 → ~27k at sf0.1), so the slope is
    a real Heaps exponent. Output is decision-stable via
    :func:`textstats._stable_slope` on both sides."""
    docs = _state(spark, sf_dir).raw("documents")
    return textstats.heaps_slope(docs, "text", "doc_id", n_buckets=50, shingle_k=3)


def _q_bucketed_join_agg(spark, sf_dir):
    """Revenue by market segment over BUCKETED orders x customer
    (``layout.bucket_table``, 8 buckets on custkey, sorted within
    buckets): the join runs with no Exchange on either side (pinned by
    tests/test_layout.py) — the pay-once co-located-join layout at
    100 TB. Result equals the plain join, which is exactly
    what the oracle checks."""
    o_name, c_name = _state(spark, sf_dir).bucketed_tpch()
    o = spark.table(o_name)
    c = spark.table(c_name)
    joined = o.join(c, o["o_custkey"] == c["c_custkey"])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch corpus shuffle (:func:`shard.epoch_shuffle`,
    epochs 0 and 1, 8 shards): md5 draw per (id, epoch) → shard +
    in-shard rank. Distinct epochs give decorrelated permutations; the
    md5 algebra restates exactly in SQL."""
    docs = _state(spark, sf_dir).raw("documents").select("doc_id")
    parts = [
        shard.epoch_shuffle(docs, "doc_id", epoch=e, num_shards=8)
        .withColumn("epoch", F.lit(e))
        for e in (0, 1)
    ]
    return (
        parts[0].unionByName(parts[1]).select("doc_id", "epoch", "shard", "pos")
    )


def _q_zorder_box_scan(spark, sf_dir):
    """2-D box aggregate over the Z-order-clustered events copy
    (``layout.zorder_table`` on (user_id, value)): both range predicates
    prune via footer min/max because the Morton curve gives each column
    partial locality. Result is layout-independent — exactly what the
    oracle checks."""
    st = _state(spark, sf_dir)
    df = spark.read.parquet(st.events_zordered)
    return (
        df.where(
            F.col("user_id").between(100, 200) & F.col("value").between(10.0, 20.0)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _q_streaming_windowed_rollup(spark, sf_dir):
    """Structured Streaming tumbling-window rollup (rows-only: streaming
    emission is not ANSI-SQL-expressible): file stream over the events
    copy → watermarked 1 h window counts per event_type → availableNow
    drain to a memory sink. Append mode emits only watermark-finalized
    windows, so the result is a deterministic subset of the green batch
    twin ``events_hourly``; exact per-window equality with the batch
    computation is pinned by
    tests/test_streaming_and_skew.py::test_streaming_windowed_counts."""
    from elephant_twin_spark.streaming import windows as swin

    st = _state(spark, sf_dir)
    sdf = swin.streaming_windowed_counts(
        spark, st.events, ts_col="ts", key_col="event_type",
        window_duration="1 hour", watermark="2 hours",
    )
    name = "ets_stream_winroll_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    swin.run_to_memory(sdf, name, output_mode="append", timeout_sec=180)
    return spark.table(name).select(
        F.col("window.start").alias("win_start"), "key", "cnt"
    )


def _q_covisit_triangles(spark, sf_dir):
    """Triangle census of the user co-activity graph — vertices are
    users (< 60, a fixed probe population), an edge joins two users
    active on the same (event_type, date) — counted via degree-ordered
    orientation (:func:`graph.triangle_count`): wedge fan-out bounded
    by max out-degree O(sqrt(m)), every join an equi join."""
    from elephant_twin_spark.operators.pipeline import graph

    ev = _state(spark, sf_dir).raw("events").where(F.col("user_id") < 60)
    ua = ev.select(
        F.col("user_id").alias("uid"), "event_type", F.to_date("ts").alias("d")
    ).distinct()
    a = ua.select(F.col("uid").alias("src"), "event_type", "d")
    b = ua.select(F.col("uid").alias("dst"), "event_type", "d")
    edges = (
        a.join(b, ["event_type", "d"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    return graph.triangle_count(edges)


def _q_novelty_score(spark, sf_dir):
    """Per-document 3-gram novelty vs a held-out reference slice
    (doc_id % 10 == 0): fraction of distinct grams unseen in the
    reference (:func:`ngrams.novelty_score`) — the synthetic-data /
    memorization gate, complement of decontamination."""
    from elephant_twin_spark.operators.pipeline import ngrams

    docs = _state(spark, sf_dir).raw("documents")
    return ngrams.novelty_score(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
        "text",
        "doc_id",
        n=3,
    )


def _q_mi_event_hour(spark, sf_dir):
    """Pointwise mutual information between event_type and hour-of-day
    — the feature-relevance / seasonality audit, now a thin wrapper over
    the library surface (:func:`stats.pmi_table`; promoted in r6 per the
    r5 verdict): one joint count aggregate, margins as windows over the
    |types| x 24 result, pmi = ln(n*total / (n_type*n_hour)) on exact
    integer counts."""
    ev = _state(spark, sf_dir).raw("events")
    return stats.pmi_table(
        ev.select("event_type", F.hour("ts").alias("hour")), "event_type", "hour"
    )


def _q_psi_value_drift(spark, sf_dir):
    """Population Stability Index of the value distribution between two
    event segments (view vs purchase): fixed 10-bin pooled-range
    binning, per-bin contributions (:func:`stats.psi_drift`) — the
    production drift monitor, fixed-size output at any scale."""
    ev = _state(spark, sf_dir).raw("events")
    return stats.psi_drift(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        "value",
        n_bins=10,
    )


def _q_ks_value_drift(spark, sf_dir):
    """Grid-exact two-sample Kolmogorov-Smirnov statistic between the
    same two segments (:func:`stats.ks_statistic` with ``grid=0.25``):
    values snap to a 0.25-wide grid BEFORE the distinct-count merge, so
    the running-CDF window state is bounded at (range/0.25) rows at ANY
    data scale — the operator's documented 100-TB path, declared
    through it (round-6 fix: the r5 declaration fed raw continuous
    values into the global window, the operator's own documented worst
    case)."""
    ev = _state(spark, sf_dir).raw("events")
    return stats.ks_statistic(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        "value",
        grid=0.25,
    )


def _q_forward_fill_values(spark, sf_dir):
    """Per-user last-observation-carried-forward
    (:func:`temporal.forward_fill`): error events report no value
    (masked to NULL — the sensor-glitch shape), then each user's series
    is densified from its own most recent reading."""
    ev = _state(spark, sf_dir).raw("events")
    masked = ev.withColumn(
        "value",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    filled = temporal.forward_fill(
        masked, ["user_id"], "ts", ["value"], tiebreak=["event_id"]
    )
    return filled.select("event_id", "user_id", F.round("value", 6).alias("value"))


def _q_wow_revenue_change(spark, sf_dir):
    """Week-over-week revenue deltas — a thin wrapper over the library
    surface (:func:`kpi.period_over_period`; promoted in r6 per the r5
    verdict): weekly sums from orders, lag window for the previous week,
    percent change — one aggregate + one window over #weeks rows.
    Columns re-aliased to the r5-declared oracle names."""
    orders = _state(spark, sf_dir).raw("orders")
    return kpi.period_over_period(
        orders, "o_orderdate", "o_totalprice", period="week", agg="sum"
    ).select(
        F.col("period").alias("week"),
        F.col("value").alias("revenue"),
        F.col("prev_value").alias("prev_revenue"),
        "pct_change",
    )


def _q_scd2_point_in_time(spark, sf_dir):
    """Point-in-time state lookup over the SCD2 history — the consumer
    pattern the intervals exist for: every user's state as of
    2024-01-15 00:00:00 is a plain
    ``effective_from <= t AND (t < effective_to OR open)`` filter, no
    window re-computation."""
    ev = _state(spark, sf_dir).raw("events")
    hist = temporal.scd2_intervals(
        ev, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )
    t = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return hist.where(
        (F.col("effective_from") <= t)
        & (F.col("effective_to").isNull() | (t < F.col("effective_to")))
    ).select("user_id", "event_type", "effective_from")


def _q_source_overlap(spark, sf_dir):
    """Cross-source content-overlap matrix
    (:func:`dedup.source_overlap_matrix`) over the 40-char document
    head (the template prefix — the raw texts are unique across
    sources, the heads genuinely collide): (source_a, source_b,
    n_shared) distinct shared contents, diagonal = per-source distinct
    count. One corpus pass + a |sources|^2 aggregate."""
    docs = _state(spark, sf_dir).raw("documents")
    heads = docs.select(F.substring("text", 1, 40).alias("head"), "source")
    return dedup.source_overlap_matrix(heads, "head", "source")


def _q_lsh_plan(spark, sf_dir):
    """MinHash-LSH parameter planner (:func:`dedup.lsh_plan`): the
    closed-form banding S-curve (threshold s50, recall at the 0.7
    target, threshold gap) for every (num_perm, bands | num_perm)
    combination — pure math over a constant grid, no data scan; the
    planning front-end for lsh_candidate_pairs, same role as
    index_advisor for the block index."""
    return dedup.lsh_plan(spark, target_jaccard=0.7)


def _q_scd2_merge_incremental(spark, sf_dir):
    """Incremental SCD2 upsert (:func:`temporal.scd2_merge`): history
    built from events before 2024-01-20, the rest merged as a CDC
    batch. The oracle recomputes the FULL history from the whole
    changelog — the merge's exactness under the watermark contract IS
    the check (cost stays probe-proportional: untouched keys pass
    through one anti join).

    r8: the history carries ``last_ts`` so the merge's watermark
    validation actually EXECUTES on the driver path (r7 verdict #2 —
    the checked contract previously had no driver evidence); the
    carried column is internal to the merge and dropped from the
    compared output, so the oracle is unchanged."""
    ev = _state(spark, sf_dir).raw("events")
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")
    hist = temporal.scd2_intervals(
        ev.where(F.col("ts") < cutoff), ["user_id"], "ts", ["event_type"],
        tiebreak=["event_id"], carry_last_ts=True,
    )
    batch = ev.where(F.col("ts") >= cutoff)
    return temporal.scd2_merge(
        hist, batch, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"],
        validate=True,
    ).drop("last_ts")


# Driver-window rotation (r9 verdict items 2+3). The driver checks
# exactly the FIRST 50 queries() entries per round; queries whose
# semantics/oracle changed in the round are PINNED there (hygiene rule,
# enforced by test_registry_hygiene). Slots not pinned are filled with
# the hash-green queries whose last DRIVER-verified green row is OLDEST,
# so the 149-query evidence tail refreshes a window per round instead of
# aging forever. Every window entry must be hash-checkable (have an
# oracle_sql twin): rows-only queries prove nothing the pytest suite
# doesn't already, so they never occupy a slot —
# streaming_windowed_rollup's permanent `no_oracle` row is evicted
# (its evidence is the batch-twin test, COVERAGE.md).
#
# r17 window: 13 hygiene-rule pins + 37 oldest-evidence fills.
# Pins = every oracle-backed query whose implementation hot path
# changed in r16 or r17 and whose last driver verification predates
# the change (the r16 optimizer rewrote simhash/_rowlocal shapes,
# shingle-verify join order, tokenizers, and HOF let-binding but left
# `_ROTATION_PINS` empty — r16 verdict item 5; the r17 optimizer
# changed lsh.gate's candidate-id pushdown, candidate_pairs' bloom
# fallback, connected_components' pointer-doubling escalation, and
# scd2_merge's validated-probe pin). r16-covered-by-luck names
# (lsh_gate, cluster_refresh, scd2_merge_incremental were in the r16
# window) are re-pinned because their hot paths changed AGAIN in r17.
# Fill = the remaining r13-vintage cohort in CORRECTNESS_r13 order
# (the oldest driver evidence in the registry), 37 of its 42 unpinned
# members; sliding_distinct_users, rolling_avg_value,
# error_rate_anomaly, rrf_fusion, rfm_segments stay outside and are
# next due.
# _ROTATION_ROUND pins WHICH rounds' evidence the rotation was computed
# from (everything before it): the hygiene test must ignore evidence
# from this round onward, else the round's own driver run — which
# freshens exactly the window entries — would flag the unchanged
# registry as stale-ordered (r10 review finding). Bump both together
# when rotating.
_ROTATION_ROUND = 17
# Queries PINNED into the window this round because their semantics,
# oracle, or implementation hot path changed (hygiene rule) — exempt
# from the oldest-evidence ordering check, which otherwise flags any
# recently-verified query occupying a slot while older ones wait.
_ROTATION_PINS: list = [
    # r16 hot-path changes never driver-re-verified (r16 verdict item 5)
    "simhash_md5_docs", "simhash_near_dup", "minhash_near_dup_pairs",
    "containment_pairs", "repetition_ratio", "chunk_docs",
    "ngram_jaccard_pairs",
    # r17 hot-path changes (gate id pushdown + bloom fallback, CC
    # pointer doubling, scd2_merge validated-probe pin); lsh_gate and
    # cluster_refresh now also run the gate's driver path
    "lsh_gate", "cluster_refresh", "near_dup_components",
    "scd2_merge_incremental",
    # r17 build-path normalize-after-group (zones_for/bloom_sketch_for;
    # outputs proven bit-identical, pinned anyway): one consumer per
    # index kind — the block-index path is covered by the
    # idx_predicate_* fills below
    "zone_range_scan", "bloom_user_lookup",
    # minhash_signatures now projects the shared carried-shingle pass
    # (the near-dup kernel's single shingle pass; CC's driver path is
    # covered by near_dup_components and cluster_refresh above)
    "minhash_signatures", "minhash_jaccard_error",
]
_ROTATION_R17 = _ROTATION_PINS + [
    # r13-vintage cohort, CORRECTNESS_r13 order (the oldest driver
    # evidence in the registry; minhash_near_dup_pairs is pinned above)
    "ann_ivf_pq_top10", "idx_predicate_string", "idx_predicate_serde",
    "day_interval_render", "source_overlap", "lsh_plan",
    "heaps_vocab_growth", "ks_value_drift", "zipf_slope",
    "mi_event_hour", "wow_revenue_change", "psi_value_drift",
    "ann_recall_stats", "scd2_user_state", "event_transitions",
    "item_cf_cosine", "sq8_error_stats", "bucketed_join_agg",
    "epoch_shuffle", "zorder_box_scan", "covisit_triangles",
    "novelty_score", "forward_fill_values", "scd2_point_in_time",
    "bigram_logprob", "js_divergence_by_source", "tokenizer_fertility",
    "code_score", "bloom_decontaminate_screen", "kfold_assign",
    "paragraph_dedup", "cms_heavy_hitters", "sentence_stats",
    "quantile_normalize", "truncate_tokens", "label_centroids",
    "curriculum_interleave",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The catalog below keeps its historical (declaration-vintage)
    # grouping; the returned dict leads with the rotation window above,
    # then the rest in catalog order. test_registry_hygiene enforces
    # both invariants (unevidenced-in-window, window hash-checkable);
    # tests/test_advisor_gates.py checks the CORRECTNESS files.
    cat = {
        # --- r9-changed (re-verification load-bearing): p95 moved to
        # percentile_disc after the sf0.1 sweep caught an interpolation
        # rounding knife-edge (see _q_gap_to_prev docstring)
        "gap_to_prev": _q_gap_to_prev,
        # --- r8-changed/new (re-verification load-bearing)
        "scd2_merge_incremental": _q_scd2_merge_incremental,
        "ann_ivf_pq_top10": _q_ann_ivf_pq_top10,
        "idx_predicate_string": _q_idx_predicate_string,
        "idx_predicate_serde": _q_idx_predicate_serde,
        "day_interval_render": _q_day_interval_render,
        # --- r6-new declarations (green r6+r7)
        "source_overlap": _q_source_overlap,
        "lsh_plan": _q_lsh_plan,
        # --- r6-changed (green r6+r7)
        "heaps_vocab_growth": _q_heaps_vocab_growth,
        "minhash_near_dup_pairs": _q_minhash_near_dup,
        "ks_value_drift": _q_ks_value_drift,
        "zipf_slope": _q_zipf_slope,
        "mi_event_hour": _q_mi_event_hour,
        "wow_revenue_change": _q_wow_revenue_change,
        "psi_value_drift": _q_psi_value_drift,
        # --- r5 declarations (green CORRECTNESS_r05 re-checks)
        "ann_recall_stats": _q_ann_recall_stats,
        "scd2_user_state": _q_scd2_user_state,
        "event_transitions": _q_event_transitions,
        "item_cf_cosine": _q_item_cf_cosine,
        "sq8_error_stats": _q_sq8_error_stats,
        "bucketed_join_agg": _q_bucketed_join_agg,
        "epoch_shuffle": _q_epoch_shuffle,
        "zorder_box_scan": _q_zorder_box_scan,
        "streaming_windowed_rollup": _q_streaming_windowed_rollup,
        "covisit_triangles": _q_covisit_triangles,
        "novelty_score": _q_novelty_score,
        "forward_fill_values": _q_forward_fill_values,
        "scd2_point_in_time": _q_scd2_point_in_time,
        # --- r4-new declarations (green CORRECTNESS_r04; cluster_refresh
        # and kmv_distinct_users changed in r5 — full oracle / rebuilt
        # synopsis — and sit inside the window for re-verification)
        "bigram_logprob": _q_bigram_logprob,
        "js_divergence_by_source": _q_js_divergence_by_source,
        "tokenizer_fertility": _q_tokenizer_fertility,
        "code_score": _q_code_score,
        "snapshot_diff": _q_snapshot_diff,
        "bloom_decontaminate_screen": _q_bloom_decontaminate_screen,
        "kfold_assign": _q_kfold_assign,
        "paragraph_dedup": _q_paragraph_dedup,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "sentence_stats": _q_sentence_stats,
        "quantile_normalize": _q_quantile_normalize,
        "mad_outliers": _q_mad_outliers,
        "truncate_tokens": _q_truncate_tokens,
        "label_centroids": _q_label_centroids,
        "curriculum_interleave": _q_curriculum_interleave,
        "sliding_distinct_users": _q_sliding_distinct_users,
        "rolling_avg_value": _q_rolling_avg_value,
        "error_rate_anomaly": _q_error_rate_anomaly,
        "rrf_fusion": _q_rrf_fusion,
        "rfm_segments": _q_rfm_segments,
        "salted_join_revenue": _q_salted_join_revenue,
        "hist_quantile_est": _q_hist_quantile_est,
        "index_advisor": _q_index_advisor,
        "cms_error_stats": _q_cms_error_stats,
        "time_decay_score": _q_time_decay_score,
        "winsorized_stats": _q_winsorized_stats,
        "kmv_distinct_users": _q_kmv_distinct_users,
        "cluster_refresh": _q_cluster_refresh,
        "session_duration_stats": _q_session_duration_stats,
        # --- r2 hash-fails (DuckDB HUGEINT sum → float64; oracle now
        # CASTs to BIGINT — engine side was already correct; green r3)
        "oov_stats": _q_oov_stats,
        "table_profile": _q_table_profile,
        "pivot_user_events": _q_pivot_user_events,
        "json_props_stats": _q_json_props_stats,
        # --- errored in r1, fixed in r2 (timeutil epoch seam), never
        # driver-re-verified
        "sessionize": _q_sessionize,
        # --- never driver-checked in any round (r2 positions 51-71);
        # zero-setup first, then index-backed (first-touch state builds)
        "error_window_counts": _q_error_window_counts,
        "quality_top_fraction": _q_quality_top_fraction,
        "domain_cap": _q_domain_cap,
        "media_features": _q_media_features,
        "winnowing_md5": _q_winnowing_md5,
        "simhash_near_dup": _q_simhash_near_dup,
        "idx_count_only": _q_idx_count_only,
        "idx_distinct_values": _q_idx_distinct_values,
        "zone_min_max": _q_zone_min_max,
        "value_histogram": _q_value_histogram,
        "text_retrieve": _q_text_retrieve,
        "lsh_gate": _q_lsh_gate,
        "simhash_docs": _q_simhash_docs,
        "winnowing_fingerprints": _q_winnowing_fps,
        "ann_lsh_top10": _q_ann_lsh_top10,
        "ann_ivf_top10": _q_ann_ivf_top10,
        "ann_pq_top10": _q_ann_pq_top10,
        "embedding_near_dup": _q_embedding_near_dup,
        "knn_join_ivf_top5": _q_ivf_knn_join,
        "streaming_session_counts": _q_streaming_session_counts,
        # --- r3-new operators
        "market_share": _q_market_share,
        "top_bigrams": _q_top_bigrams,
        "exact_substring_dups": _q_exact_substring_dups,
        "repeated_ngram_coverage": _q_repeated_ngram_coverage,
        "cdc_chunks": _q_cdc_chunks,
        "gopher_quality_flags": _q_gopher_quality_flags,
        "perplexity_buckets": _q_perplexity_buckets,
        "ann_range_search": _q_ann_range_search,
        "kmeans_assign": _q_kmeans_assign,
        "lsh_bucket_stats": _q_lsh_bucket_stats,
        "dup_rate_by_source": _q_dup_rate_by_source,
        "table_profile_approx": _q_table_profile_approx,
        "keep_best_per_group": _q_keep_best_per_group,
        "iqr_outliers": _q_iqr_outliers,
        "corr_stats": _q_corr_stats,
        "token_len_histogram": _q_token_len_histogram,
        "bucket_skew_stats": _q_bucket_skew_stats,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "pack_efficiency": _q_pack_efficiency,
        "consecutive_dedup": _q_consecutive_dedup,
        "minhash_jaccard_error": _q_minhash_jaccard_error,
        "doc_len_quantiles_approx": _q_doc_len_quantiles_approx,
        "semantic_dedup": _q_semantic_dedup,
        # --- green in CORRECTNESS_r02 (pipeline pack/chunk/shard, vocab,
        # mixture, TPC-H-style analytics, windows, pivots, temporal)
        "pack_docs": _q_pack_docs,
        "chunk_docs": _q_chunk_docs,
        "shard_assignment": _q_shard_assignment,
        "unigram_logprob": _q_unigram_logprob,
        "mixture_resample": _q_mixture_resample,
        "weighted_sample": _q_weighted_sample,
        "temperature_weights": _q_temperature_weights,
        "normalized_docs": _q_normalized_docs,
        "vocab_top100": _q_vocab_top100,
        "doc_token_ids": _q_doc_token_ids,
        "edit_distance_join": _q_edit_distance_join,
        "funnel_stages": _q_funnel,
        "weekly_retention": _q_weekly_retention,
        "stratified_sample": _q_stratified_sample,
        "term_pmi": _q_term_pmi,
        "doc_keywords": _q_doc_keywords,
        "cosine_pairs": _q_cosine_pairs,
        "time_rollup_hourly": _q_time_rollup,
        "join_revenue_by_nation": _q_join_revenue_by_nation,
        "rollup_orders": _q_rollup_orders,
        "click_not_purchase_users": _q_set_ops,
        "grouping_sets_orders": _q_grouping_sets,
        "forecast_revenue": _q_forecast_revenue,
        "top_unshipped_orders": _q_top_unshipped_orders,
        "above_avg_orders": _q_above_avg_orders,
        "priority_fulfilment": _q_priority_fulfilment,
        "volume_shipping": _q_volume_shipping,
        "profit_by_nation": _q_profit_by_nation,
        "returned_items": _q_returned_items,
        "customer_distribution": _q_customer_distribution,
        "promo_revenue": _q_promo_revenue,
        "top_supplier": _q_top_supplier,
        "small_qty_revenue": _q_small_qty_revenue,
        "large_volume_orders": _q_large_volume_orders,
        "disjunctive_revenue": _q_disjunctive_revenue,
        "late_sole_supplier": _q_late_sole_supplier,
        "dormant_customers": _q_dormant_customers,
        "unpivot_order_measures": _q_unpivot_order_measures,
        "salted_distinct_users": _q_salted_distinct_users,
        "semi_join_customers": _q_semi_join_customers,
        "anti_join_customers": _q_anti_join_customers,
        "window_top_orders": _q_window_top_orders,
        "running_revenue": _q_running_revenue,
        "cube_orders": _q_cube_orders,
        "group_percentiles": _q_percentiles,
        "asof_last_click": _q_asof_last_click,
        # --- green in CORRECTNESS_r01 (sparse index surface S2/S5/S6,
        # F1-F5, I1-I3, M2/M5; relational A2/A5 O4 C1-C3; text T1-T7 A3;
        # pipeline dedup/stats/similarity)
        "idx_point_lookup": _q_idx_point,
        "idx_and": _q_idx_and,
        "idx_or": _q_idx_or,
        "idx_residual": _q_idx_residual,
        "idx_no_match": _q_idx_no_match,
        "idx_per_key_counts": _q_idx_per_key_counts,
        "sql_front_door": _q_sql_front_door,
        "bloom_user_lookup": _q_bloom_user_lookup,
        "expr_index_day": _q_expr_index_day,
        "zone_range_scan": _q_zone_range_scan,
        "agg_lineitem_pricing": _q_agg_lineitem_pricing,
        "events_hourly": _q_events_hourly,
        "top_users_by_value": _q_top_users_by_value,
        "date_functions": _q_date_functions,
        "md5_digests": _q_md5_digests,
        "text_count": _q_text_count,
        "text_topn": _q_text_topn,
        "text_bool_and": _q_text_bool_and,
        "text_bool_or": _q_text_bool_or,
        "text_phrase": _q_text_phrase,
        "text_phrase_near": _q_text_phrase_near,
        "text_bm25_top": _q_text_bm25_top,
        "text_prefix": _q_text_prefix,
        "text_wildcard": _q_text_wildcard,
        "text_fuzzy": _q_text_fuzzy,
        "text_not": _q_text_not,
        "text_more_like_this": _q_text_mlt,
        "dedup_exact_groups": _q_dedup_exact_groups,
        "simhash_md5_docs": _q_simhash_md5,
        "minhash_signatures": _q_minhash_signatures,
        "token_stats": _q_token_stats,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "ann_cosine_top10": _q_ann_cosine_top10,
        "label_centroid_component": _q_label_centroid_component,
        "date_partition_range": _q_date_partition_range,
        "user_event_types": _q_user_event_types,
        "date_parse_roundtrip": _q_date_parse_roundtrip,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "near_dup_components": _q_near_dup_components,
        "containment_pairs": _q_containment_pairs,
        "char_entropy": _q_char_entropy,
        "knn_join_top5": _q_knn_join,
        "repetition_ratio": _q_repetition_ratio,
        "ann_persisted_top10": _q_ann_persisted,
        "clean_corpus_audit": _q_clean_corpus_audit,
        "decontaminate_report": _q_decontaminate_report,
        "pii_scrub": _q_pii_scrub,
    }
    out = {name: cat.pop(name) for name in _ROTATION_R17}  # KeyError = typo, loud
    out.update(cat)
    return out


# -------------------------------------------------------------------- oracle

_TOKS = "regexp_split_to_array(text, '\\s+')"
# empty-token-filtered twin — mirrors whitespace_tokenizer exactly
# (edge/duplicate whitespace produces '' entries in a plain split)
_TOKSF = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"

# PII oracle fragments composed from the same pattern table as the engine
# (pii.PII_PATTERNS), so the two sides cannot drift.
_PII_NPII = " + ".join(
    f"len(regexp_extract_all(text, '{pat}'))" for pat, _ in pii.PII_PATTERNS.values()
)
_PII_REDACT = "text"
for _pat, _tok in pii.PII_PATTERNS.values():
    _PII_REDACT = f"regexp_replace({_PII_REDACT}, '{_pat}', '{_tok}', 'g')"
_STOP = {
    "en": "['the','a','of','and','to','in','is','it','that','for']",
    "es": "['el','la','de','y','que','en','un','es','se','no']",
    "de": "['der','die','das','und','zu','den','ist','von','mit','nicht']",
    "fr": "['le','la','de','et','un','il','est','que','pour','dans']",
}


def oracle_sql() -> dict[str, str]:
    ev = "SELECT event_id, ts, user_id, event_type, value, props FROM events"
    # md5 MinHash algebra for the minhash_near_dup_pairs full oracle
    # (r6 upgrade from rows-only): 16 signature lanes, 4 bands of 4
    mh_lanes = ",\n                   ".join(
        f"min(md5('{i}|' || s)) AS mh{i}" for i in range(16)
    )
    mh_bands = "\n            UNION ALL ".join(
        "SELECT id, {b} AS band, md5({expr}) AS bh FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"mh{b * 4 + r}" for r in range(4)),
        )
        for b in range(4)
    )
    # distinct 3-word shingles, word_shingles semantics (dedup.py:68):
    # docs shorter than 3 tokens contribute one whole-doc shingle
    shingles_sql = f"""
              SELECT id, CASE WHEN len(a) < 3 THEN [array_to_string(a, ' ')]
                   ELSE list_distinct(list_transform(
                          generate_series(1, len(a) - 2),
                          i -> array_to_string(list_slice(a, i, i + 2), ' ')))
              END AS sl
              FROM (SELECT doc_id AS id, {_TOKSF} AS a FROM documents)
    """
    lang_hits = ", ".join(
        f"len(list_filter(list_transform({_TOKS}, x -> lower(x)), "
        f"x -> list_contains({_STOP[lang]}, x))) AS h_{lang}"
        for lang in ["de", "en", "es", "fr"]
    )
    return {
        # --- r6-new oracles
        "source_overlap": """
            WITH s AS (
              SELECT DISTINCT substring(text, 1, 40) AS sig, source
              FROM documents
            )
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM s a JOIN s b ON a.sig = b.sig AND a.source <= b.source
            GROUP BY a.source, b.source
        """,
        "lsh_plan": """
            WITH p AS (SELECT unnest([8, 16, 32, 64, 128]) AS num_perm),
            g AS (
              SELECT num_perm, b AS num_bands, num_perm // b AS rows_per_band
              FROM p, unnest(generate_series(1, num_perm)) AS t(b)
              WHERE num_perm % b = 0
            )
            SELECT CAST(num_perm AS INT) AS num_perm,
                   CAST(num_bands AS INT) AS num_bands,
                   CAST(rows_per_band AS INT) AS rows_per_band,
                   round(pow(1.0 / num_bands, 1.0 / rows_per_band), 6) AS s50,
                   round(1.0 - pow(1.0 - pow(0.7, rows_per_band),
                                   num_bands), 6) AS p_at_target,
                   round(abs(pow(1.0 / num_bands, 1.0 / rows_per_band) - 0.7),
                         6) AS threshold_gap
            FROM g
        """,
        # the merge's oracle is the FULL-changelog recompute: equality
        # under the watermark contract is exactly what scd2_merge claims
        "scd2_merge_incremental": """
            WITH o AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN event_type IS NOT DISTINCT FROM
                               lag(event_type) OVER w
                          THEN 0 ELSE 1 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            r AS (
              SELECT *, sum(chg) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS run
              FROM o
            ),
            g AS (
              SELECT user_id, run, any_value(event_type) AS event_type,
                     min(ts) AS effective_from,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM r GROUP BY user_id, run
            )
            SELECT user_id, event_type, effective_from, n_rows,
                   lead(effective_from) OVER w2 AS effective_to,
                   lead(effective_from) OVER w2 IS NULL AS is_current
            FROM g
            WINDOW w2 AS (PARTITION BY user_id ORDER BY effective_from, run)
        """,
        # --- r6: rows-only -> full oracle upgrade (md5 hash family
        # threads end-to-end, so signatures, band buckets, candidate
        # join and exact Jaccard all restate in SQL — the
        # cluster_refresh algebra generalized to the whole-corpus dump)
        "minhash_near_dup_pairs": f"""
            WITH sh AS ({shingles_sql}),
            ex AS (SELECT id, unnest(sl) AS s FROM sh),
            sig AS (
              SELECT id,
                   {mh_lanes}
              FROM ex GROUP BY id
            ),
            band AS (
            {mh_bands}
            ),
            cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM band a JOIN band b
                ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
            ),
            j AS (
              SELECT c.id_a, c.id_b,
                     len(list_intersect(x.sl, y.sl))
                       / len(list_distinct(x.sl || y.sl)) AS jaccard
              FROM cand c JOIN sh x ON x.id = c.id_a
                          JOIN sh y ON y.id = c.id_b
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   jaccard
            FROM j WHERE jaccard >= 0.7
        """,
        # --- r5-new oracles
        "scd2_user_state": """
            WITH o AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN event_type IS NOT DISTINCT FROM
                               lag(event_type) OVER w
                          THEN 0 ELSE 1 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            r AS (
              SELECT *, sum(chg) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS run
              FROM o
            ),
            g AS (
              SELECT user_id, run, any_value(event_type) AS event_type,
                     min(ts) AS effective_from,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM r GROUP BY user_id, run
            )
            SELECT user_id, event_type, effective_from, n_rows,
                   lead(effective_from) OVER w2 AS effective_to,
                   lead(effective_from) OVER w2 IS NULL AS is_current
            FROM g
            WINDOW w2 AS (PARTITION BY user_id ORDER BY effective_from, run)
        """,
        "event_transitions": """
            WITH s AS (
              SELECT event_type AS from_state,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS to_state
              FROM events
            ),
            c AS (
              SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
              FROM s WHERE to_state IS NOT NULL GROUP BY from_state, to_state
            )
            SELECT from_state, to_state, n,
                   round(n / CAST(sum(n) OVER (PARTITION BY from_state)
                                  AS DOUBLE), 6) AS p
            FROM c
        """,
        "item_cf_cosine": """
            WITH ui AS (
              SELECT user_id AS u, event_type AS i, count(*) AS cnt
              FROM events GROUP BY u, i
            ),
            norms AS (SELECT i, sqrt(sum(cnt * cnt)) AS nrm FROM ui GROUP BY i),
            pairs AS (
              SELECT a.i AS item_a, b.i AS item_b,
                     CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
              FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
              GROUP BY item_a, item_b
            )
            SELECT item_a, item_b, n_users, dot,
                   round(dot / (na.nrm * nb.nrm), 6) AS cosine
            FROM pairs
            JOIN norms na ON na.i = item_a
            JOIN norms nb ON nb.i = item_b
        """,
        "sq8_error_stats": """
            WITH ex AS (
              SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings
            ),
            mm AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM ex GROUP BY dim),
            c AS (
              SELECT ex.dim, x, vmin, vmax, (vmax - vmin) / 255.0 AS scale,
                     CASE WHEN (vmax - vmin) / 255.0 > 0
                          THEN greatest(CAST(0 AS BIGINT),
                                 least(CAST(255 AS BIGINT),
                                   CAST(floor((x - vmin) / ((vmax - vmin) / 255.0)
                                              + 0.5) AS BIGINT)))
                          ELSE 0 END AS code
              FROM ex JOIN mm USING (dim)
            )
            SELECT dim, CAST(count(*) AS BIGINT) AS n,
                   round(any_value(vmin), 6) AS vmin,
                   round(any_value(vmax), 6) AS vmax,
                   CAST(sum(code) AS BIGINT) AS sum_codes,
                   round(max(abs(x - (CASE WHEN scale > 0
                                           THEN vmin + code * scale
                                           ELSE vmin END))), 9) AS max_abs_err
            FROM c GROUP BY dim
        """,
        "heaps_vocab_growth": f"""
            WITH ta AS (SELECT doc_id AS id, {_TOKSF} AS a FROM documents),
            tk AS (
              -- 3-token shingles, ngram_array semantics: docs shorter
              -- than 3 tokens contribute one whole-doc gram
              SELECT id, unnest(
                CASE WHEN len(a) < 3 THEN [array_to_string(a, ' ')]
                     ELSE list_transform(
                            generate_series(1, len(a) - 2),
                            i -> array_to_string(list_slice(a, i, i + 2), ' '))
                END) AS term
              FROM ta
            ),
            bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
            fo AS (SELECT term, min(id) AS fid FROM tk GROUP BY term),
            nb AS (
              SELECT least(49, CAST(floor(CAST(fid - lo AS DOUBLE) * 50
                       / CAST(hi - lo + 1 AS DOUBLE)) AS INT)) AS bucket,
                     count(*) AS new_terms
              FROM fo, bounds GROUP BY bucket
            ),
            tc AS (
              SELECT least(49, CAST(floor(CAST(id - lo AS DOUBLE) * 50
                       / CAST(hi - lo + 1 AS DOUBLE)) AS INT)) AS bucket,
                     sum(ntok) AS toks
              FROM (SELECT id, count(*) AS ntok FROM tk GROUP BY id), bounds
              GROUP BY bucket
            ),
            pts AS (
              SELECT coalesce(nb.bucket, tc.bucket) AS bucket,
                     sum(coalesce(new_terms, 0)) OVER w AS cum_vocab,
                     sum(coalesce(toks, 0)) OVER w AS cum_toks
              FROM nb FULL JOIN tc ON nb.bucket = tc.bucket
              WINDOW w AS (ORDER BY coalesce(nb.bucket, tc.bucket)
                           ROWS UNBOUNDED PRECEDING)
            )
            SELECT CAST(count(*) AS BIGINT) AS n_points,
                   CAST(max(cum_toks) AS BIGINT) AS total_tokens,
                   CAST(max(cum_vocab) AS BIGINT) AS total_vocab,
                   CASE WHEN var_pop(ln(cum_toks)) > 0 THEN
                     CASE WHEN abs(regr_slope(ln(cum_vocab), ln(cum_toks))) < 1e-9
                          THEN 0.0
                          ELSE round(regr_slope(ln(cum_vocab), ln(cum_toks)), 6)
                               + 0.0 END
                   END AS slope
            FROM pts WHERE cum_vocab > 0 AND cum_toks > 0
        """,
        "bucketed_join_agg": """
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "epoch_shuffle": """
            WITH k AS (
              SELECT doc_id, e.epoch,
                     md5(concat(CAST(doc_id AS VARCHAR), ':',
                                CAST(e.epoch AS VARCHAR), ':0')) AS key
              FROM documents, (SELECT unnest([0, 1]) AS epoch) e
            ),
            s AS (
              SELECT doc_id, epoch, key,
                     CAST(CAST(concat('0x', substring(key, 1, 8)) AS BIGINT)
                          % 8 AS INT) AS shard
              FROM k
            )
            SELECT doc_id, CAST(epoch AS INT) AS epoch, shard,
                   CAST(row_number() OVER (PARTITION BY epoch, shard
                                           ORDER BY key, doc_id) AS INT) AS pos
            FROM s
        """,
        "zorder_box_scan": """
            SELECT CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events
            WHERE user_id BETWEEN 100 AND 200 AND value BETWEEN 10.0 AND 20.0
        """,
        "novelty_score": f"""
            WITH t AS (SELECT doc_id, {_TOKSF} AS toks FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(0, len(toks) - 2),
                            i -> concat(toks[i+1], ' ', toks[i+2], ' ', toks[i+3]))
                     END AS grams
              FROM t
            ),
            dg AS (
              SELECT DISTINCT doc_id AS id, unnest(grams) AS gram
              FROM g WHERE doc_id % 10 <> 0
            ),
            rg AS (
              SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 10 = 0
            ),
            per AS (
              SELECT id, CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_novel
              FROM dg LEFT JOIN rg r ON dg.gram = r.gram
              GROUP BY id
            )
            SELECT d.doc_id AS id,
                   coalesce(n_grams, 0) AS n_grams,
                   coalesce(n_novel, 0) AS n_novel,
                   CASE WHEN coalesce(n_grams, 0) > 0 THEN
                     round(coalesce(n_novel, 0) /
                           CAST(coalesce(n_grams, 0) AS DOUBLE), 6)
                   END AS novelty
            FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 <> 0) d
            LEFT JOIN per ON per.id = d.doc_id
        """,
        "mi_event_hour": """
            WITH joint AS (
              SELECT event_type, CAST(hour(ts) AS INT) AS hour,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY event_type, hour
            )
            SELECT event_type, hour, n,
                   round(ln((n * sum(n) OVER ()) /
                            CAST(sum(n) OVER (PARTITION BY event_type) *
                                 sum(n) OVER (PARTITION BY hour) AS DOUBLE)), 6)
                       AS pmi
            FROM joint
        """,
        "scd2_point_in_time": """
            WITH o AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN event_type IS NOT DISTINCT FROM
                               lag(event_type) OVER w
                          THEN 0 ELSE 1 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            r AS (
              SELECT *, sum(chg) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS run
              FROM o
            ),
            g AS (
              SELECT user_id, run, any_value(event_type) AS event_type,
                     min(ts) AS effective_from
              FROM r GROUP BY user_id, run
            ),
            h AS (
              SELECT user_id, event_type, effective_from,
                     lead(effective_from) OVER (PARTITION BY user_id
                                                ORDER BY effective_from, run)
                         AS effective_to
              FROM g
            )
            SELECT user_id, event_type, effective_from
            FROM h
            WHERE effective_from <= TIMESTAMP '2024-01-15 00:00:00'
              AND (effective_to IS NULL
                   OR TIMESTAMP '2024-01-15 00:00:00' < effective_to)
        """,
        "forward_fill_values": """
            SELECT event_id, user_id,
                   round(last_value(CASE WHEN event_type = 'error' THEN NULL
                                         ELSE value END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING), 6) AS value
            FROM events
        """,
        "wow_revenue_change": """
            WITH weekly AS (
              SELECT date_trunc('week', o_orderdate) AS week,
                     round(sum(o_totalprice), 2) AS revenue
              FROM orders GROUP BY week
            )
            SELECT week, revenue,
                   lag(revenue) OVER (ORDER BY week) AS prev_revenue,
                   round((revenue - lag(revenue) OVER (ORDER BY week))
                         / NULLIF(lag(revenue) OVER (ORDER BY week), 0),
                         6) AS pct_change
            FROM weekly
        """,
        "psi_value_drift": """
            WITH b AS (
              SELECT CAST(value AS DOUBLE) AS x FROM events
              WHERE event_type = 'view' AND value IS NOT NULL
            ),
            c AS (
              SELECT CAST(value AS DOUBLE) AS x FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL
            ),
            bounds AS (
              SELECT min(x) AS lo, max(x) AS hi
              FROM (SELECT x FROM b UNION ALL SELECT x FROM c)
            ),
            bb AS (
              SELECT CASE WHEN hi > lo THEN least(9,
                       CAST(floor((x - lo) * 10 / (hi - lo)) AS INT))
                     ELSE 0 END AS bin, count(*) AS n_base
              FROM b, bounds GROUP BY bin
            ),
            cb AS (
              SELECT CASE WHEN hi > lo THEN least(9,
                       CAST(floor((x - lo) * 10 / (hi - lo)) AS INT))
                     ELSE 0 END AS bin, count(*) AS n_cur
              FROM c, bounds GROUP BY bin
            ),
            bins AS (
              SELECT coalesce(bb.bin, cb.bin) AS bin,
                     coalesce(n_base, 0) AS n_base,
                     coalesce(n_cur, 0) AS n_cur
              FROM bb FULL JOIN cb ON bb.bin = cb.bin
            ),
            tot AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM bins)
            SELECT bin,
                   round(lo + bin * (hi - lo) / 10, 6) AS bin_lo,
                   round(lo + (bin + 1) * (hi - lo) / 10, 6) AS bin_hi,
                   round(greatest(n_base / CAST(tb AS DOUBLE), 1e-6), 6) AS p_base,
                   round(greatest(n_cur / CAST(tc AS DOUBLE), 1e-6), 6) AS p_cur,
                   round((greatest(n_cur / CAST(tc AS DOUBLE), 1e-6)
                          - greatest(n_base / CAST(tb AS DOUBLE), 1e-6))
                         * ln(greatest(n_cur / CAST(tc AS DOUBLE), 1e-6)
                              / greatest(n_base / CAST(tb AS DOUBLE), 1e-6)),
                         6) AS contrib
            FROM bins, bounds, tot
        """,
        "ks_value_drift": """
            WITH b AS (
              SELECT floor(CAST(value AS DOUBLE) / 0.25) * 0.25 AS x FROM events
              WHERE event_type = 'view' AND value IS NOT NULL
            ),
            c AS (
              SELECT floor(CAST(value AS DOUBLE) / 0.25) * 0.25 AS x FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL
            ),
            bc AS (SELECT x, count(*) AS nb FROM b GROUP BY x),
            cc AS (SELECT x, count(*) AS nc FROM c GROUP BY x),
            m AS (
              SELECT coalesce(bc.x, cc.x) AS x,
                     coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
              FROM bc FULL JOIN cc ON bc.x = cc.x
            ),
            r AS (
              SELECT sum(nb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cb,
                     sum(nc) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cn,
                     sum(nb) OVER () AS tb, sum(nc) OVER () AS tc
              FROM m
            )
            SELECT CAST(tb AS BIGINT) AS n_base, CAST(tc AS BIGINT) AS n_cur,
                   round(max(abs(cb / CAST(tb AS DOUBLE)
                                 - cn / CAST(tc AS DOUBLE))), 6) AS ks
            FROM r GROUP BY tb, tc
        """,
        "covisit_triangles": """
            WITH ua AS (
              SELECT DISTINCT user_id AS uid, event_type, CAST(ts AS DATE) AS d
              FROM events WHERE user_id < 60
            ),
            e AS (
              SELECT DISTINCT a.uid AS u, b.uid AS v
              FROM ua a JOIN ua b
                ON a.event_type = b.event_type AND a.d = b.d AND a.uid < b.uid
            ),
            deg AS (
              SELECT vertex, count(*) AS degree FROM (
                SELECT u AS vertex FROM e UNION ALL SELECT v AS vertex FROM e
              ) GROUP BY vertex
            ),
            tri AS (
              SELECT count(*) AS c
              FROM e e1
              JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
              JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
            )
            SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_vertices,
                   CAST((SELECT sum(degree) / 2 FROM deg) AS BIGINT) AS n_edges,
                   CAST((SELECT c FROM tri) AS BIGINT) AS n_triangles
        """,
        "idx_point_lookup": f"{ev} WHERE event_type = 'click'",
        "idx_predicate_string": (
            f"{ev} WHERE (event_type = 'purchase' OR event_type = 'signup') "
            "AND value > 10"
        ),
        "idx_predicate_serde": (
            f"{ev} WHERE event_type = 'error' "
            "OR (event_type = 'click' AND user_id = 3)"
        ),
        "day_interval_render": """
            SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
                   '[' || strftime(min(ts), '%Y-%m-%d %H:%M:%S') || ' - '
                       || strftime(max(ts), '%Y-%m-%d %H:%M:%S') || ']' AS span
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        """,
        "idx_and": f"{ev} WHERE event_type = 'click' AND user_id = 7",
        "idx_or": f"{ev} WHERE event_type = 'signup' OR event_type = 'error'",
        "idx_residual": f"{ev} WHERE event_type = 'purchase' AND value > 50.0",
        "idx_no_match": f"{ev} WHERE event_type = 'does_not_exist'",
        "bloom_user_lookup": f"{ev} WHERE user_id = 42",
        "expr_index_day": f"{ev} WHERE CAST(ts AS DATE) = DATE '2024-01-05'",
        "zone_range_scan": (
            f"{ev} WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'"
            " AND ts < TIMESTAMP '2024-01-12 00:00:00'"
        ),
        "idx_per_key_counts": (
            "SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY event_type"
        ),
        "sql_front_door": """
            SELECT event_id, value FROM events
            WHERE event_type = 'purchase' AND value > 10
            ORDER BY value DESC, event_id LIMIT 50
        """,
        "agg_lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, count(*) AS n, max(ts) AS max_ts,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "top_users_by_value": """
            SELECT user_id, round(sum(value), 2) AS total_value, count(*) AS n
            FROM events GROUP BY user_id
            ORDER BY total_value DESC, user_id ASC LIMIT 10
        """,
        "date_functions": """
            SELECT event_id,
                   strftime(ts, '%Y%m%d%H%M%S') AS compact,
                   year(ts) * 10000 + month(ts) * 100 + day(ts) AS dateid,
                   (year(ts) * 10000 + month(ts) * 100 + day(ts)) * 100 + hour(ts) AS hourid,
                   date_trunc('day', ts) AS day_ts,
                   CASE WHEN date_trunc('hour', ts) = ts THEN ts
                        ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR END AS next_hour,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS mysql_fmt
            FROM events
        """,
        "md5_digests": "SELECT doc_id, md5(text) AS digest FROM documents",
        "text_count": f"""
            SELECT 'spark' AS term, count(*) AS n FROM documents
            WHERE list_contains({_TOKS}, 'spark')
        """,
        "text_topn": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x = 'merge')) AS BIGINT) AS score
            FROM documents
            WHERE list_contains({_TOKS}, 'merge')
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        "text_bool_and": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x = 'spark' OR x = 'join')) AS BIGINT) AS score
            FROM documents
            WHERE list_contains({_TOKS}, 'spark') AND list_contains({_TOKS}, 'join')
        """,
        "text_bool_or": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x = 'group' OR x = 'window')) AS BIGINT) AS score
            FROM documents
            WHERE list_contains({_TOKS}, 'group') OR list_contains({_TOKS}, 'window')
        """,
        "text_phrase": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x = 'sort' OR x = 'merge')) AS BIGINT) AS score
            FROM documents
            WHERE regexp_matches(text, '(^|\\s)sort\\s+merge(\\s|$)')
        """,
        "text_bm25_top": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tok),
            tf AS (SELECT doc_id,
                          len(list_filter(toks, x -> x = 'spark')) AS tf,
                          len(toks) AS dl
                   FROM tok),
            dfreq AS (SELECT count(*) AS df FROM tf WHERE tf > 0)
            SELECT doc_id,
                   round(ln(1 + (n - df + 0.5) / (df + 0.5))
                         * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                         6) AS score
            FROM tf, stats, dfreq
            WHERE tf > 0
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        "text_phrase_near": f"""
            -- slop-2 window = merge at offsets -1, +1, +2, +3 from sort
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x = 'sort' OR x = 'merge')) AS BIGINT) AS score
            FROM documents
            WHERE regexp_matches(text, '(^|\\s)sort(\\s+\\S+){{0,2}}\\s+merge(\\s|$)')
               OR regexp_matches(text, '(^|\\s)merge\\s+sort(\\s|$)')
        """,
        "text_more_like_this": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKS}) AS term FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
            ), q AS (
              SELECT term, 1.0 + ln(tf) AS wq0 FROM tf WHERE doc_id = 7
            ), dfr AS (
              SELECT t.term, count(*) AS df
              FROM tf t JOIN q ON t.term = q.term GROUP BY t.term
            ), qw AS (
              SELECT q.term,
                     q.wq0 * ln((SELECT count(*) FROM documents) * 1.0 / dfr.df)
                         AS wq
              FROM q JOIN dfr ON q.term = dfr.term
            ), norms AS (
              SELECT doc_id, sqrt(sum(pow(1.0 + ln(tf), 2))) AS norm
              FROM tf GROUP BY doc_id
            ), dots AS (
              SELECT tf.doc_id, sum(qw.wq * (1.0 + ln(tf.tf))) AS dot
              FROM tf JOIN qw ON tf.term = qw.term
              WHERE tf.doc_id <> 7 GROUP BY tf.doc_id
            )
            SELECT d.doc_id,
                   round(d.dot / ((SELECT sqrt(sum(wq*wq)) FROM qw) * n.norm), 6)
                       AS score
            FROM dots d JOIN norms n USING (doc_id)
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        "text_prefix": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x LIKE 's%')) AS BIGINT) AS score
            FROM documents
            WHERE len(list_filter({_TOKS}, x -> x LIKE 's%')) > 0
        """,
        "text_wildcard": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> regexp_full_match(x, 's.a.*')))
                        AS BIGINT) AS score
            FROM documents
            WHERE len(list_filter({_TOKS}, x -> regexp_full_match(x, 's.a.*'))) > 0
        """,
        "text_fuzzy": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> levenshtein(x, 'spork') <= 1))
                        AS BIGINT) AS score
            FROM documents
            WHERE len(list_filter({_TOKS}, x -> levenshtein(x, 'spork') <= 1)) > 0
        """,
        "text_not": f"""
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x = 'spark')) AS BIGINT) AS score
            FROM documents
            WHERE list_contains({_TOKS}, 'spark')
              AND NOT list_contains({_TOKS}, 'join')
        """,
        "simhash_md5_docs": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
            h AS (SELECT doc_id, tf,
                         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
                  FROM tf),
            lanes AS (SELECT doc_id, b,
                             sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
                      FROM h, unnest(range(60)) AS t(b) GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                     AS simhash
            FROM lanes GROUP BY doc_id
        """,
        "dedup_exact_groups": """
            SELECT md5(text) AS sig, count(*) AS n_dups, min(doc_id) AS keep_id
            FROM documents GROUP BY md5(text)
        """,
        "minhash_signatures": f"""
            SELECT doc_id,
                   min(md5('0|' || tok)) AS mh0,
                   min(md5('1|' || tok)) AS mh1,
                   min(md5('2|' || tok)) AS mh2,
                   min(md5('3|' || tok)) AS mh3
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            GROUP BY doc_id
        """,
        "idx_count_only": """
            SELECT count(*) AS cnt FROM events WHERE event_type = 'click'
        """,
        "idx_distinct_values": """
            SELECT DISTINCT CAST(event_type AS VARCHAR) AS key FROM events
            WHERE event_type IS NOT NULL
        """,
        "zone_min_max": """
            SELECT min(value) AS mn, max(value) AS mx FROM events
        """,
        "value_histogram": """
            WITH b AS (SELECT unnest(range(22)) AS bin),
            t AS (SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL),
            c AS (SELECT event_type,
                         CASE WHEN value < 0 THEN 20
                              WHEN value >= 1000 THEN 21
                              ELSE CAST(floor((value - 0.0) / 50.0) AS INT) END AS bin,
                         count(*) AS n
                  FROM events
                  WHERE value IS NOT NULL AND event_type IS NOT NULL
                  GROUP BY 1, 2)
            SELECT t.event_type,
                   array_to_string(list(COALESCE(c.n, 0) ORDER BY b.bin), ',') AS hist
            FROM t CROSS JOIN b
            LEFT JOIN c ON c.event_type = t.event_type AND c.bin = b.bin
            GROUP BY t.event_type
        """,
        "vocab_top100": f"""
            WITH c AS (
                SELECT tok AS token, count(*) AS cnt
                FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
                GROUP BY tok
            ),
            t AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT 100)
            SELECT token, cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1 AS INT)
                     AS token_id
            FROM t
        """,
        "doc_token_ids": f"""
            WITH c AS (
                SELECT tok AS token, count(*) AS cnt
                FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
                GROUP BY tok
            ),
            t AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT 20),
            v AS (SELECT token,
                         CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1 AS INT)
                           AS token_id
                  FROM t),
            e AS (
                SELECT doc_id, unnest({_TOKS}) AS tok,
                       generate_subscripts({_TOKS}, 1) AS pos
                FROM documents
            )
            SELECT e.doc_id,
                   array_to_string(
                       list(CAST(coalesce(v.token_id, -1) AS VARCHAR) ORDER BY e.pos),
                       ',') AS token_ids
            FROM e LEFT JOIN v ON v.token = e.tok
            GROUP BY e.doc_id
        """,
        "oov_stats": f"""
            WITH c AS (
                SELECT tok AS token, count(*) AS cnt
                FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
                GROUP BY tok
            ),
            t AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT 20),
            e AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            SELECT e.doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(CASE WHEN t.token IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   round(sum(CASE WHEN t.token IS NULL THEN 1 ELSE 0 END)
                         / count(*), 6) AS oov_rate
            FROM e LEFT JOIN t ON t.token = e.tok
            GROUP BY e.doc_id
        """,
        "temperature_weights": """
            WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            w AS (SELECT lang, pow(n, 0.5) AS wt FROM n)
            SELECT lang, round(wt / (SELECT sum(wt) FROM w), 6) AS weight FROM w
        """,
        "normalized_docs": """
            SELECT doc_id,
                   lower(trim(regexp_replace(
                       regexp_replace(text, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                       '\\s+', ' ', 'g'))) AS norm_text
            FROM documents
        """,
        # content is the utf-8 text bytes (synthesize_media_table), so the
        # mapInPandas fake-decode output is exactly reproducible: the
        # multimodal PLUMBING (Arrow batches, schema, batching) gets a
        # full value-hash oracle even though real decode stays stubbed
        "media_features": """
            SELECT doc_id AS media_id,
                   octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS sha
            FROM documents
        """,
        "simhash_near_dup": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
                         WHERE doc_id < 300),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
            h AS (SELECT doc_id, tf,
                         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
                  FROM tf),
            lanes AS (SELECT doc_id, b,
                             sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
                      FROM h, unnest(range(60)) AS t(b) GROUP BY 1, 2),
            sh AS (SELECT doc_id,
                          CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                               AS BIGINT) AS simhash
                   FROM lanes GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "winnowing_md5": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 50
            ), g AS (
              SELECT doc_id,
                     list_transform(range(0, greatest(len(toks) - 5, 0) + 1),
                       i -> CAST(concat('0x', substring(
                              md5(array_to_string(toks[i+1 : i+5], ' ')), 1, 15))
                            AS BIGINT)) AS grams
              FROM t
            ), m AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(grams) - 4, 0) + 1),
                       j -> list_min(grams[j+1 : j+4]))) AS mins
              FROM g
            )
            SELECT doc_id AS id, unnest(mins) AS fp FROM m
        """,
        "weighted_sample": """
            WITH w AS (
                SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS wt,
                       -ln((CAST(CAST(concat('0x',
                              substring(md5(concat(CAST(doc_id AS VARCHAR), ':42')), 1, 15))
                            AS BIGINT) AS DOUBLE) + 1.0) / 1152921504606846977.0)
                         / CAST(n_chars AS DOUBLE) AS k
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            ),
            r AS (SELECT doc_id, lang,
                         row_number() OVER (PARTITION BY lang ORDER BY k ASC, doc_id ASC)
                           AS rn
                  FROM w)
            SELECT doc_id, lang FROM r WHERE rn <= 50
        """,
        "quality_top_fraction": f"""
            WITH q AS (
                SELECT doc_id, source,
                       least(len({_TOKS}) / 100.0, 1.0)
                         * (len(list_distinct({_TOKS})) / len({_TOKS})) AS qs
                FROM documents
            ),
            r AS (
                SELECT doc_id, source, qs,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY qs DESC, doc_id ASC) AS rn,
                       count(*) OVER (PARTITION BY source) AS n
                FROM q
            )
            SELECT doc_id, source, round(qs, 4) AS quality_score
            FROM r WHERE rn <= ceil(n * 0.3)
        """,
        "domain_cap": """
            SELECT doc_id, source, n_chars
            FROM (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM documents
            ) WHERE rn <= 10
        """,
        "lsh_gate": f"""
            WITH corpus AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ),
            probes AS (
                SELECT doc_id + 1000000 AS pid,
                       regexp_split_to_array(text || ' zzz', '\\s+') AS toks
                FROM documents WHERE doc_id % 7 = 0
            ),
            csig AS (
                SELECT doc_id,
                       min(md5('0|' || tok)) AS mh0, min(md5('1|' || tok)) AS mh1,
                       min(md5('2|' || tok)) AS mh2, min(md5('3|' || tok)) AS mh3
                FROM (SELECT doc_id, unnest(toks) AS tok FROM corpus) GROUP BY doc_id
            ),
            psig AS (
                SELECT pid,
                       min(md5('0|' || tok)) AS mh0, min(md5('1|' || tok)) AS mh1,
                       min(md5('2|' || tok)) AS mh2, min(md5('3|' || tok)) AS mh3
                FROM (SELECT pid, unnest(toks) AS tok FROM probes) GROUP BY pid
            ),
            cband AS (
                SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM csig
                UNION ALL
                SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bh FROM csig
            ),
            pband AS (
                SELECT pid, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM psig
                UNION ALL
                SELECT pid, 1 AS band, md5(mh2 || '|' || mh3) AS bh FROM psig
            ),
            cand AS (
                SELECT DISTINCT p.pid, c.doc_id AS cid
                FROM pband p JOIN cband c ON p.band = c.band AND p.bh = c.bh
            ),
            ver AS (
                SELECT cand.pid, min(cand.cid) AS dup_of
                FROM cand
                JOIN probes pr ON pr.pid = cand.pid
                JOIN corpus co ON co.doc_id = cand.cid
                WHERE len(list_distinct(list_intersect(list_distinct(pr.toks),
                                                       list_distinct(co.toks))))
                      / len(list_distinct(pr.toks || co.toks)) >= 0.5
                GROUP BY cand.pid
            )
            SELECT p.pid AS doc_id,
                   v.dup_of IS NOT NULL AS is_near_dup,
                   v.dup_of
            FROM probes p LEFT JOIN ver v ON v.pid = p.pid
        """,
        # full restatement of refresh_clusters: stage 1 = the lsh_gate
        # md5 algebra (4 lanes / 2 bands, the persisted index params)
        # with min-id inherit; stage 2 = md5 star candidates (8 lanes /
        # 4 bands) + exact-Jaccard verify + recursive-CTE min-label
        # components over the unmatched remainder
        "cluster_refresh": f"""
            WITH RECURSIVE corpus AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ),
            batch AS (
                SELECT doc_id + 10000000 AS pid,
                       regexp_split_to_array(text || ' probe', '\\s+') AS toks
                FROM documents WHERE doc_id < 60
                UNION ALL
                SELECT pid, regexp_split_to_array(ptext, '\\s+') AS toks
                FROM (VALUES
                    (20000000, 'planted novel duplicate pair for refresh check'),
                    (20000001, 'planted novel duplicate pair for refresh check')
                ) AS v(pid, ptext)
            ),
            csig AS (
                SELECT doc_id,
                       min(md5('0|' || tok)) AS mh0, min(md5('1|' || tok)) AS mh1,
                       min(md5('2|' || tok)) AS mh2, min(md5('3|' || tok)) AS mh3
                FROM (SELECT doc_id, unnest(toks) AS tok FROM corpus) GROUP BY doc_id
            ),
            psig AS (
                SELECT pid,
                       min(md5('0|' || tok)) AS mh0, min(md5('1|' || tok)) AS mh1,
                       min(md5('2|' || tok)) AS mh2, min(md5('3|' || tok)) AS mh3
                FROM (SELECT pid, unnest(toks) AS tok FROM batch) GROUP BY pid
            ),
            cband AS (
                SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM csig
                UNION ALL
                SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bh FROM csig
            ),
            pband AS (
                SELECT pid, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM psig
                UNION ALL
                SELECT pid, 1 AS band, md5(mh2 || '|' || mh3) AS bh FROM psig
            ),
            cand AS (
                SELECT DISTINCT p.pid, c.doc_id AS cid
                FROM pband p JOIN cband c ON p.band = c.band AND p.bh = c.bh
            ),
            gate AS (
                SELECT cand.pid, min(cand.cid) AS dup_of
                FROM cand
                JOIN batch pr ON pr.pid = cand.pid
                JOIN corpus co ON co.doc_id = cand.cid
                WHERE len(list_distinct(list_intersect(list_distinct(pr.toks),
                                                       list_distinct(co.toks))))
                      / len(list_distinct(pr.toks || co.toks)) >= 0.5
                GROUP BY cand.pid
            ),
            novel AS (
                SELECT b.pid, b.toks FROM batch b
                LEFT JOIN gate g ON g.pid = b.pid WHERE g.pid IS NULL
            ),
            nsig AS (
                SELECT pid,
                       min(md5('0|' || tok)) AS mh0, min(md5('1|' || tok)) AS mh1,
                       min(md5('2|' || tok)) AS mh2, min(md5('3|' || tok)) AS mh3,
                       min(md5('4|' || tok)) AS mh4, min(md5('5|' || tok)) AS mh5,
                       min(md5('6|' || tok)) AS mh6, min(md5('7|' || tok)) AS mh7
                FROM (SELECT pid, unnest(toks) AS tok FROM novel) GROUP BY pid
            ),
            nband AS (
                SELECT pid, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM nsig
                UNION ALL SELECT pid, 1, md5(mh2 || '|' || mh3) FROM nsig
                UNION ALL SELECT pid, 2, md5(mh4 || '|' || mh5) FROM nsig
                UNION ALL SELECT pid, 3, md5(mh6 || '|' || mh7) FROM nsig
            ),
            hubs AS (SELECT band, bh, min(pid) AS hub FROM nband GROUP BY band, bh),
            star AS (
                SELECT DISTINCT h.hub AS ia, n.pid AS ib
                FROM nband n JOIN hubs h ON n.band = h.band AND n.bh = h.bh
                WHERE n.pid <> h.hub
            ),
            ver AS (
                SELECT s.ia, s.ib
                FROM star s
                JOIN novel a ON a.pid = s.ia
                JOIN novel b ON b.pid = s.ib
                WHERE len(list_distinct(list_intersect(list_distinct(a.toks),
                                                       list_distinct(b.toks))))
                      / len(list_distinct(a.toks || b.toks)) >= 0.5
            ),
            sym AS (SELECT ia AS a, ib AS b FROM ver UNION SELECT ib, ia FROM ver),
            reach AS (
                SELECT a, b FROM sym
                UNION
                SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
            ),
            comp AS (SELECT a AS node, least(a, min(b)) AS component
                     FROM reach GROUP BY a)
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(cluster_id AS BIGINT) AS cluster_id, is_new_cluster
            FROM (
                SELECT pid AS id, dup_of AS cluster_id, FALSE AS is_new_cluster
                FROM gate
                UNION ALL
                SELECT n.pid, coalesce(c.component, n.pid), TRUE
                FROM novel n LEFT JOIN comp c ON c.node = n.pid
            )
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   round((length(text) - (len({_TOKS}) - 1)) / len({_TOKS}), 4) AS avg_token_len,
                   round(len(list_distinct({_TOKS})) / len({_TOKS}), 4) AS uniq_token_ratio,
                   round(least(len({_TOKS}) / 100.0, 1.0)
                         * len(list_distinct({_TOKS})) / len({_TOKS}), 4) AS quality_score
            FROM documents
        """,
        "lang_id": f"""
            WITH h AS (SELECT doc_id, {lang_hits} FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                        WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                        ELSE 'de' END AS lang_pred
            FROM h
        """,
        "fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
            FROM documents
        """,
        # full restatement of ann_recall_audit: exact-cosine truth,
        # md5-sign-plane LSH buckets, fixed-centroid IVF assignment
        # (the kmeans_assign algebra), fixed-codebook PQ encode + ADC
        # (order-deterministic list_sum folds mirror the engine's
        # sequential F.aggregate), recall as INTEGER hit counts
        "ann_recall_stats": """
            WITH corpus AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (SELECT id AS qid, v AS qv FROM corpus WHERE id < 8),
            truth AS (
                SELECT qid, id FROM (
                    SELECT q.qid, c.id,
                           row_number() OVER (PARTITION BY q.qid
                               ORDER BY list_cosine_similarity(c.v, q.qv) DESC,
                                        c.id ASC) AS rn
                    FROM q CROSS JOIN corpus c
                ) WHERE rn <= 10
            ),
            cents AS (SELECT id AS cid, v AS cv FROM corpus WHERE id < 8),
            assign AS (
                SELECT id, cid AS cluster FROM (
                    SELECT c.id, ct.cid,
                           row_number() OVER (PARTITION BY c.id
                               ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM corpus c CROSS JOIN cents ct
                ) WHERE rn = 1
            ),
            qprobe2 AS (
                SELECT qid, cid FROM (
                    SELECT q.qid, ct.cid,
                           row_number() OVER (PARTITION BY q.qid
                               ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM q CROSS JOIN cents ct
                ) WHERE rn <= 2
            ),
            qprobe4 AS (
                SELECT qid, cid FROM (
                    SELECT q.qid, ct.cid,
                           row_number() OVER (PARTITION BY q.qid
                               ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM q CROSS JOIN cents ct
                ) WHERE rn <= 4
            ),
            ivf_top AS (
                SELECT qid, id FROM (
                    SELECT q.qid, c.id,
                           row_number() OVER (PARTITION BY q.qid
                               ORDER BY list_cosine_similarity(c.v, q.qv) DESC,
                                        c.id ASC) AS rn
                    FROM q
                    JOIN qprobe2 p ON p.qid = q.qid
                    JOIN assign a ON a.cluster = p.cid
                    JOIN corpus c ON c.id = a.id
                ) WHERE rn <= 10
            ),
            planes AS (
                SELECT p, list_transform(range(64), d ->
                    CASE WHEN strpos('89abcdef',
                             substring(md5('42|' || p || '|' || d), 1, 1)) > 0
                         THEN 1.0 ELSE -1.0 END) AS w
                FROM (SELECT unnest(range(4)) AS p)
            ),
            buckets AS (
                SELECT c.id,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(64),
                                        i -> c.v[i+1] * pl.w[i+1])) >= 0
                                     THEN 1 << pl.p ELSE 0 END) AS INT) AS bucket
                FROM corpus c CROSS JOIN planes pl GROUP BY c.id
            ),
            qbuckets AS (
                SELECT q.qid,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(64),
                                        i -> q.qv[i+1] * pl.w[i+1])) >= 0
                                     THEN 1 << pl.p ELSE 0 END) AS INT) AS qb
                FROM q CROSS JOIN planes pl GROUP BY q.qid
            ),
            lsh_top AS (
                SELECT qid, id FROM (
                    SELECT qb.qid, c.id,
                           row_number() OVER (PARTITION BY qb.qid
                               ORDER BY list_cosine_similarity(c.v, q.qv) DESC,
                                        c.id ASC) AS rn
                    FROM qbuckets qb
                    JOIN q ON q.qid = qb.qid
                    JOIN buckets b ON bit_count(xor(b.bucket, qb.qb)) <= 1
                    JOIN corpus c ON c.id = b.id
                ) WHERE rn <= 10
            ),
            cb AS (
                SELECT s.s, c.id AS ci, c.v[s.s*16+1 : (s.s+1)*16] AS cv
                FROM corpus c CROSS JOIN (SELECT unnest(range(4)) AS s) s
                WHERE c.id < 16
            ),
            codes AS (
                SELECT id, s, ci AS code FROM (
                    SELECT c.id, cb.s, cb.ci,
                           row_number() OVER (PARTITION BY c.id, cb.s
                               ORDER BY list_sum(list_transform(range(16),
                                   i -> (c.v[cb.s*16 + i + 1] - cb.cv[i+1])
                                      * (c.v[cb.s*16 + i + 1] - cb.cv[i+1]))) ASC,
                                        cb.ci ASC) AS rn
                    FROM corpus c CROSS JOIN cb
                ) WHERE rn = 1
            ),
            lut AS (
                SELECT q.qid, cb.s, cb.ci,
                       list_sum(list_transform(range(16),
                           i -> (q.qv[cb.s*16 + i + 1] - cb.cv[i+1])
                              * (q.qv[cb.s*16 + i + 1] - cb.cv[i+1]))) AS d2
                FROM q CROSS JOIN cb
            ),
            adc AS (
                SELECT co.id, l.qid, list_sum(list(l.d2 ORDER BY l.s)) AS dist
                FROM codes co
                JOIN lut l ON l.s = co.s AND l.ci = co.code
                GROUP BY co.id, l.qid
            ),
            pq_short AS (
                SELECT qid, id FROM (
                    SELECT qid, id,
                           row_number() OVER (PARTITION BY qid
                               ORDER BY dist ASC, id ASC) AS rn
                    FROM adc
                ) WHERE rn <= 50
            ),
            pq_top AS (
                SELECT qid, id FROM (
                    SELECT s.qid, s.id,
                           row_number() OVER (PARTITION BY s.qid
                               ORDER BY list_cosine_similarity(c.v, q.qv) DESC,
                                        c.id ASC) AS rn
                    FROM pq_short s
                    JOIN corpus c ON c.id = s.id
                    JOIN q ON q.qid = s.qid
                ) WHERE rn <= 10
            ),
            ivfpq_adc AS (
                SELECT a2.qid, a2.id, list_sum(list(a2.d2 ORDER BY a2.s)) AS dist
                FROM (
                    SELECT p.qid, a.id, co.s, l.d2
                    FROM qprobe4 p
                    JOIN assign a ON a.cluster = p.cid
                    JOIN codes co ON co.id = a.id
                    JOIN lut l ON l.qid = p.qid AND l.s = co.s AND l.ci = co.code
                ) a2
                GROUP BY a2.qid, a2.id
            ),
            ivfpq_short AS (
                SELECT qid, id FROM (
                    SELECT qid, id,
                           row_number() OVER (PARTITION BY qid
                               ORDER BY dist ASC, id ASC) AS rn
                    FROM ivfpq_adc
                ) WHERE rn <= 50
            ),
            ivfpq_top AS (
                SELECT qid, id FROM (
                    SELECT s.qid, s.id,
                           row_number() OVER (PARTITION BY s.qid
                               ORDER BY list_cosine_similarity(c.v, q.qv) DESC,
                                        c.id ASC) AS rn
                    FROM ivfpq_short s
                    JOIN corpus c ON c.id = s.id
                    JOIN q ON q.qid = s.qid
                ) WHERE rn <= 10
            ),
            approx AS (
                SELECT 'ivf' AS method, qid, id FROM ivf_top
                UNION ALL SELECT 'lsh', qid, id FROM lsh_top
                UNION ALL SELECT 'pq', qid, id FROM pq_top
                UNION ALL SELECT 'ivf_pq', qid, id FROM ivfpq_top
            ),
            qm AS (
                SELECT m.method, q.qid
                FROM q CROSS JOIN
                     (SELECT unnest(['lsh','ivf','pq','ivf_pq']) AS method) m
            ),
            hit AS (
                SELECT qm.method, qm.qid, count(t.id) AS h
                FROM qm
                LEFT JOIN approx a ON a.method = qm.method AND a.qid = qm.qid
                LEFT JOIN truth t ON t.qid = qm.qid AND t.id = a.id
                GROUP BY qm.method, qm.qid
            )
            SELECT method, CAST(count(*) AS INT) AS n_queries,
                   CAST(sum(h) AS BIGINT) AS total_hits,
                   CAST(min(h) AS BIGINT) AS min_hits,
                   round(sum(h) / (10.0 * count(*)), 4) AS mean_recall
            FROM hit GROUP BY method
        """,
        "ann_cosine_top10": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(CAST(list_cosine_similarity(embedding, q.qv) AS DOUBLE), 4) AS cosine
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding, q.qv) DESC, vec_id ASC
            LIMIT 10
        """,
        "label_centroid_component": """
            SELECT label, count(*) AS n,
                   round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_c0
            FROM embeddings GROUP BY label
        """,
        "date_partition_range": f"""
            {ev} WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS sess_start, max(ts) AS sess_end
            FROM s GROUP BY user_id, session_id
        """,
        "user_event_types": """
            SELECT user_id,
                   array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types
            FROM events GROUP BY user_id
        """,
        "date_parse_roundtrip": """
            SELECT event_id,
                   strptime(strftime(ts, '%Y%m%d%H%M%S'), '%Y%m%d%H%M%S') AS rt_compact,
                   strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS rt_mysql,
                   strptime(strftime(ts, '%Y-%m-%d'), '%Y-%m-%d') AS rt_date
            FROM events
        """,
        "ngram_jaccard_pairs": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              FROM documents WHERE doc_id < 40
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                                  i -> array_to_string(t[i:i+2], ' '))) AS s
              FROM toks
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a, sh b WHERE a.doc_id < b.doc_id
        """,
        "stratified_sample": """
            SELECT doc_id, lang, strat_rank FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                         AS strat_rank
              FROM documents
            ) WHERE strat_rank <= 20
        """,
        "doc_keywords": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKS}) AS term FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ), scored AS (
              SELECT tf.doc_id, tf.term,
                     (1.0 + ln(tf.tf))
                       * ln((SELECT count(*) FROM documents) * 1.0 / dfreq.df)
                       AS score
              FROM tf JOIN dfreq ON tf.term = dfreq.term
            ), ranked AS (
              SELECT doc_id, term, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term ASC) AS rank
              FROM scored
            )
            SELECT doc_id, term, round(score, 6) AS score, rank
            FROM ranked WHERE rank <= 3
        """,
        "term_pmi": f"""
            WITH td AS (
              SELECT DISTINCT doc_id, unnest({_TOKS}) AS term FROM documents
            ), dfreq AS (
              SELECT term, count(*) AS df FROM td GROUP BY term HAVING count(*) >= 100
            ), p AS (SELECT td.doc_id, td.term, dfreq.df
                     FROM td JOIN dfreq ON td.term = dfreq.term),
            pairs AS (
              SELECT a.term AS term_a, b.term AS term_b,
                     a.df AS n_a, b.df AS n_b, count(*) AS n_ab
              FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.term < b.term
              GROUP BY 1, 2, 3, 4
            )
            SELECT term_a, term_b, n_a, n_b, n_ab,
                   round(ln((SELECT count(*) FROM documents) * n_ab
                            * 1.0 / (n_a * n_b)), 6) AS pmi
            FROM pairs
        """,
        "weekly_retention": """
            WITH f AS (
              SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
              FROM events GROUP BY user_id
            ), act AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
            )
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week, act.w) // 7 AS INT)
                       AS weeks_since,
                   count(DISTINCT act.user_id) AS n_users
            FROM act JOIN f ON act.user_id = f.user_id
            GROUP BY 1, 2
        """,
        "funnel_stages": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
              WHERE e.event_type = 'click' GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
              WHERE e.event_type = 'purchase' GROUP BY e.user_id
            )
            SELECT u.user_id AS user,
                   CASE WHEN s3.t3 IS NOT NULL THEN 3
                        WHEN s2.t2 IS NOT NULL THEN 2
                        WHEN s1.t1 IS NOT NULL THEN 1
                        ELSE 0 END AS stage_reached
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN s1 ON u.user_id = s1.user_id
            LEFT JOIN s2 ON u.user_id = s2.user_id
            LEFT JOIN s3 ON u.user_id = s3.user_id
        """,
        "edit_distance_join": """
            WITH n AS (SELECT DISTINCT p_name FROM part)
            SELECT a.p_name AS p_name_a, b.p_name AS p_name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
            FROM n a, n b
            WHERE a.p_name < b.p_name
              AND levenshtein(a.p_name, b.p_name) <= 2
        """,
        "decontaminate_report": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            evg AS (
              SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS gram
              FROM tok, UNNEST(range(1, len(t) - 5 + 2)) AS u(i)
              WHERE len(t) >= 5 AND doc_id % 29 = 0
            ),
            dg AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
              FROM tok, UNNEST(range(1, len(t) - 5 + 2)) AS u(i)
              WHERE len(t) >= 5 AND doc_id % 29 <> 0
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_grams, count(e.gram) AS n_contaminated
              FROM dg LEFT JOIN evg e USING (gram) GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(a.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   coalesce(a.n_contaminated, 0) >= 1 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) c
            LEFT JOIN agg a USING (doc_id)
        """,
        "pii_scrub": f"""
            SELECT doc_id, CAST({_PII_NPII} AS BIGINT) AS n_pii,
                   {_PII_REDACT} AS redacted
            FROM documents
        """,
        "chunk_docs": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS n FROM documents),
            st AS (
              SELECT doc_id, t, n, unnest(range(0, greatest(0, ((n - 8 - 1) // 24) * 24) + 1, 24)) AS s
              FROM tok WHERE n > 0
            )
            SELECT doc_id, CAST(s // 24 AS INT) AS chunk_id,
                   array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text,
                   CAST(len(t[s + 1 : s + 32]) AS INT) AS n_tokens
            FROM st
        """,
        "unigram_logprob": f"""
            WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
            s AS (SELECT count(*) AS total, count(DISTINCT tok) AS v FROM tk)
            SELECT doc_id,
                   round(avg(ln((cnt + 1.0) / (total + v))), 4) AS logprob
            FROM tk JOIN f USING (tok), s
            GROUP BY doc_id
        """,
        "shard_assignment": """
            SELECT doc_id,
                   CAST(CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), ':0')), 1, 15)) AS BIGINT) % 16 AS INT) AS shard_id
            FROM documents
        """,
        "mixture_resample": """
            WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            w AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.15), ('es', 0.15),
                                        ('fr', 0.1), ('zh', 0.1)) AS w(lang, wt)),
            a AS (SELECT min(n / wt) AS alpha FROM n JOIN w USING (lang) WHERE wt > 0),
            k AS (SELECT lang, CAST(floor(a.alpha * wt) AS BIGINT) AS keep FROM w, a),
            r AS (SELECT doc_id, lang,
                         row_number() OVER (PARTITION BY lang
                             ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':42')),
                                      doc_id) AS rn
                  FROM documents)
            SELECT r.doc_id, r.lang FROM r JOIN k USING (lang) WHERE rn <= keep
        """,
        "pack_docs": f"""
            WITH t AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                       FROM documents),
            c AS (SELECT doc_id, n_tokens,
                         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                              AS BIGINT) AS tok_offset
                  FROM t)
            SELECT doc_id, n_tokens, tok_offset,
                   CAST(floor(tok_offset / 256) AS BIGINT) AS pack_id
            FROM c
        """,
        "clean_corpus_audit": f"""
            WITH h AS (SELECT doc_id, text, {lang_hits} FROM documents),
            feats AS (
              SELECT doc_id, text,
                     len({_TOKS}) AS n_tok,
                     CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                          WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                          WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                          WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                          ELSE 'de' END AS lang_pred,
                     CASE WHEN len({_TOKS}) < 3
                          THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct(
                                 list_transform(range(1, len({_TOKS}) - 1),
                                     i -> array_to_string(({_TOKS})[i:i+2], ' '))))
                               AS DOUBLE)
                               / (len({_TOKS}) - 2)
                     END AS rep
              FROM h
            ), gated AS (
              SELECT doc_id, text,
                     CASE WHEN n_tok < 30 THEN 'too_short'
                          WHEN lang_pred <> 'en' THEN 'lang'
                          WHEN rep > 0.2 THEN 'repetitive' END AS gate_reason
              FROM feats
            ), sig AS (
              SELECT md5(text) AS s, min(doc_id) AS keep
              FROM gated WHERE gate_reason IS NULL GROUP BY 1
            )
            SELECT g.doc_id,
                   CASE WHEN g.gate_reason IS NOT NULL THEN g.gate_reason
                        WHEN g.doc_id <> s.keep THEN 'exact_dup' END AS reason
            FROM gated g LEFT JOIN sig s ON s.s = md5(g.text)
        """,
        "ann_persisted_top10": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id AS id,
                   round(CAST(list_cosine_similarity(embedding, q.qv) AS DOUBLE), 4)
                       + 0.0 AS cosine
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding, q.qv) DESC, vec_id ASC
            LIMIT 10
        """,
        "gap_to_prev": """
            WITH g AS (
              SELECT user_id,
                     (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                     / 1000000.0 AS gap_s
              FROM events
            )
            SELECT user_id, count(*) AS n_gaps,
                   round(avg(gap_s), 4) AS avg_gap_s,
                   percentile_disc(0.95) WITHIN GROUP (ORDER BY gap_s)
                       AS p95_gap_s
            FROM g WHERE gap_s IS NOT NULL
            GROUP BY user_id
        """,
        "repetition_ratio": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                          ELSE list_transform(range(1, len(t) - 1),
                                              i -> array_to_string(t[i:i+2], ' '))
                     END AS g
              FROM toks
            )
            SELECT doc_id,
                   round(CASE WHEN len(g) <= 0 THEN 0.0
                         ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                         END, 6) AS dup_ngram_ratio
            FROM grams
        """,
        "knn_join_top5": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, c.vec_id AS id,
                     list_cosine_similarity(q.qv, c.v) AS cos_raw
              FROM q, v c
            ), ranked AS (
              SELECT query_id, id, cos_raw,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_raw DESC, id ASC) AS rank
              FROM scored
            )
            SELECT query_id, id, round(cos_raw, 6) + 0.0 AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "char_entropy": """
            WITH c AS (
              SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
            ), cnt AS (
              SELECT doc_id, ch, count(*) AS k FROM c GROUP BY 1, 2
            ), n AS (
              SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1
            )
            SELECT cnt.doc_id,
                   round(-sum((k * 1.0 / n.n) * ln(k * 1.0 / n.n)), 6)
                       AS char_entropy
            FROM cnt JOIN n ON cnt.doc_id = n.doc_id
            GROUP BY cnt.doc_id
        """,
        "containment_pairs": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              FROM documents WHERE doc_id < 450
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                                  i -> array_to_string(t[i:i+2], ' '))) AS s
              FROM toks
            ), p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
                         AS ca,
                     CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)
                         AS cb
              FROM sh a, sh b WHERE a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, round(ca, 6) AS cont_a_in_b,
                   round(cb, 6) AS cont_b_in_a
            FROM p WHERE ca >= 0.9 OR cb >= 0.9
        """,
        "near_dup_components": """
            WITH RECURSIVE toks AS (
              SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              FROM documents WHERE doc_id < 450
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                                  i -> array_to_string(t[i:i+2], ' '))) AS s
              FROM toks
            ), e AS (
              SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM sh a, sh b WHERE a.doc_id < b.doc_id
                AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
            ), sym AS (
              SELECT ia AS a, ib AS b FROM e UNION SELECT ib, ia FROM e
            ), reach AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
            )
            SELECT a AS node, least(a, min(b)) AS component
            FROM reach GROUP BY a
        """,
        "cosine_pairs": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 30)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) + 0.0 AS cosine
            FROM v a, v b WHERE a.vec_id < b.vec_id
        """,
        "time_rollup_hourly": """
            SELECT date_trunc('hour', ts) AS bucket, event_type AS key,
                   count(*) AS cnt, max(ts) AS last_ts,
                   array_to_string(list_sort(list(event_id))[1:3], ',') AS samples
            FROM events GROUP BY 1, 2
        """,
        "join_revenue_by_nation": """
            SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "click_not_purchase_users": """
            SELECT DISTINCT user_id FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              EXCEPT ALL
              SELECT user_id FROM events WHERE event_type = 'purchase'
            )
        """,
        "table_profile": """
            SELECT 'user_id' AS "column", count(*) AS n,
                   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   count(DISTINCT user_id) AS n_distinct,
                   CAST(min(user_id) AS VARCHAR) AS min_s,
                   CAST(max(user_id) AS VARCHAR) AS max_s
            FROM events
            UNION ALL
            SELECT 'event_type', count(*),
                   CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   count(DISTINCT event_type),
                   CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
            FROM events
        """,
        "grouping_sets_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        "text_retrieve": f"""
            SELECT doc_id, score, lang, n_chars FROM (
              SELECT doc_id,
                     CAST(len(list_filter({_TOKS}, x -> x = 'merge')) AS BIGINT) AS score,
                     lang, n_chars
              FROM documents
              WHERE list_contains({_TOKS}, 'merge')
            ) ORDER BY score DESC, doc_id ASC LIMIT 5
        """,
        "forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
              AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
        """,
        "top_unshipped_orders": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10
        """,
        "above_avg_orders": """
            SELECT o_orderpriority, count(*) AS n FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
            GROUP BY o_orderpriority
        """,
        "priority_fulfilment": """
            SELECT o_orderpriority, count(*) AS order_count FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority
        """,
        "volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l.l_shipdate) AS l_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
                OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
            GROUP BY 1, 2, 3
        """,
        "profit_by_nation": """
            SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
                   CAST(round(sum(
                       CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                       - CAST(p.p_retailprice AS DECIMAL(18,2))
                         * CAST(l.l_quantity AS DECIMAL(18,2))), 2)
                       AS DOUBLE) AS sum_profit
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE p.p_name LIKE '%red%'
            GROUP BY 1, 2
        """,
        "returned_items": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
              AND l.l_returnflag = 'R'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "customer_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
                SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                FROM customer c
                LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                     AND o.o_orderpriority <> '1-URGENT'
                GROUP BY c.c_custkey
            ) GROUP BY c_count
        """,
        "promo_revenue": """
            SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                         THEN l.l_extendedprice * (1 - l.l_discount)
                         ELSE 0.0 END)
                   / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-06-01'
              AND l.l_shipdate < TIMESTAMP '1996-07-01'
        """,
        "top_supplier": """
            WITH rev AS (
                SELECT l_suppkey AS supplier_no,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name, rev.total_revenue
            FROM rev JOIN supplier s ON rev.supplier_no = s.s_suppkey
            WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "small_qty_revenue": """
            WITH brand_li AS (
                SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_brand = 'Brand#13'
            ), cuts AS (
                SELECT l_partkey AS a_partkey, 0.2 * avg(l_quantity) AS qty_cut
                FROM brand_li GROUP BY l_partkey
            )
            SELECT round(sum(b.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM brand_li b JOIN cuts ON b.l_partkey = cuts.a_partkey
            WHERE b.l_quantity < cuts.qty_cut
        """,
        "large_volume_orders": """
            SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                   o.o_totalprice, round(big.sum_qty, 2) AS sum_qty
            FROM orders o
            JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 150) big
              ON o.o_orderkey = big.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
            LIMIT 100
        """,
        "disjunctive_revenue": """
            SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 25
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "late_sole_supplier": """
            WITH per_order AS (
                SELECT l.l_orderkey,
                       count(DISTINCT l.l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate
                                           THEN l.l_suppkey END) AS n_late,
                       max(CASE WHEN l.l_shipdate > o.o_orderdate
                                THEN l.l_suppkey END) AS late_supp
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                GROUP BY l.l_orderkey
            )
            SELECT s.s_name, count(*) AS numwait
            FROM per_order JOIN supplier s ON per_order.late_supp = s.s_suppkey
            WHERE per_order.n_supp > 1 AND per_order.n_late = 1
            GROUP BY s.s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 20
        """,
        "dormant_customers": """
            SELECT c.c_nationkey, count(*) AS numcust,
                   round(sum(c.c_acctbal), 2) AS totacctbal
            FROM customer c
            WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                 WHERE c_acctbal > 0.0)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-06-01')
            GROUP BY c.c_nationkey
        """,
        "pivot_user_events": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                        AS BIGINT) AS signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS view
            FROM events GROUP BY user_id
        """,
        "unpivot_order_measures": """
            WITH wide AS (
              SELECT o_orderstatus,
                     round(sum(o_totalprice), 2) AS price,
                     CAST(count(*) AS DOUBLE) AS n_orders
              FROM orders GROUP BY o_orderstatus
            )
            SELECT o_orderstatus, 'price' AS measure, price AS total FROM wide
            UNION ALL
            SELECT o_orderstatus, 'n_orders', n_orders FROM wide
        """,
        "json_props_stats": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                        AS BIGINT) AS sum_k,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
            FROM events GROUP BY event_type
        """,
        "salted_distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "semi_join_customers": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        """,
        "anti_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        """,
        "window_top_orders": """
            SELECT * FROM (
              SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "running_revenue": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                     AS running_rev
            FROM orders
        """,
        "cube_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "group_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "asof_last_click": """
            SELECT p.event_id, max(c.ts) AS last_click_ts
            FROM events p
            LEFT JOIN events c
              ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id
        """,
        "error_window_counts": """
            SELECT i.iv_id, count(*) AS n
            FROM (SELECT event_id AS iv_id, user_id,
                         ts - INTERVAL 1 HOUR AS start_ts,
                         ts + INTERVAL 1 HOUR AS end_ts
                  FROM events WHERE event_type = 'error') i
            JOIN events p
              ON p.user_id = i.user_id AND p.ts >= i.start_ts AND p.ts < i.end_ts
            GROUP BY i.iv_id
        """,
        # ----------------------------------------------------- r3-new
        "market_share": """
            WITH cust_eu AS (
              SELECT c.c_custkey FROM customer c
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'EUROPE'
            )
            SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                   round(sum(CASE WHEN sn.n_name = 'NATION_0'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                         / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                     AS mkt_share
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            WHERE o.o_custkey IN (SELECT c_custkey FROM cust_eu)
            GROUP BY 1
        """,
        "top_bigrams": f"""
            WITH t AS (SELECT {_TOKS} AS toks FROM documents),
            g AS (
              SELECT CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(0, len(toks) - 1),
                                         i -> concat(toks[i+1], ' ', toks[i+2]))
                     END AS grams
              FROM t
            )
            SELECT ngram, count(*) AS cnt
            FROM (SELECT unnest(grams) AS ngram FROM g)
            GROUP BY ngram ORDER BY cnt DESC, ngram ASC LIMIT 20
        """,
        "exact_substring_dups": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 10 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(0, len(toks) - 9),
                                         i -> array_to_string(toks[i+1:i+10], ' '))
                     END AS grams
              FROM t
            ),
            h AS (SELECT doc_id, md5(g2.gram) AS gram_md5
                  FROM g, unnest(list_distinct(g.grams)) AS g2(gram))
            SELECT gram_md5, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM h GROUP BY gram_md5 HAVING count(DISTINCT doc_id) >= 2
        """,
        "repeated_ngram_coverage": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(0, len(toks) - 1),
                                         i -> concat(toks[i+1], ' ', toks[i+2]))
                     END AS grams
              FROM t
            )
            SELECT doc_id,
                   round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
                     AS dup_ngram_frac
            FROM g
        """,
        "cdc_chunks": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            b AS (
              SELECT doc_id, toks,
                     list_filter(range(1, len(toks) + 1),
                       i -> CAST(concat('0x', substring(md5(toks[i]), 1, 15))
                                 AS BIGINT) % 8 = 0) AS bpos
              FROM t
            ),
            s AS (
              SELECT doc_id, toks,
                     list_filter(
                       list_transform(range(0, len(bpos) + 1),
                         k -> struct_pack(
                           s := CASE WHEN k = 0 THEN 1 ELSE bpos[k] + 1 END,
                           e := CASE WHEN k = len(bpos) THEN len(toks)
                                     ELSE bpos[k + 1] END)),
                       x -> x.s <= x.e) AS segs
              FROM b
            )
            SELECT doc_id, CAST(k AS INT) AS chunk_idx,
                   CAST(segs[k+1].e - segs[k+1].s + 1 AS INT) AS n_tokens,
                   md5(array_to_string(toks[segs[k+1].s : segs[k+1].e], ' '))
                     AS chunk_md5
            FROM s, unnest(range(len(segs))) AS u(k)
        """,
        "gopher_quality_flags": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
            g AS (
              SELECT doc_id,
                     CAST(len(toks) AS INT) AS n_words,
                     round((length(text) - (len(toks) - 1)) * 1.0 / len(toks), 4)
                       AS mean_word_len,
                     CASE WHEN len(toks) < 3 THEN 0.0
                     ELSE round(1.0 - len(list_distinct(
                            list_transform(range(0, len(toks) - 2),
                              i -> concat(toks[i+1], ' ', toks[i+2], ' ', toks[i+3]))))
                          * 1.0 / (len(toks) - 2), 4)
                     END AS dup_3gram_frac,
                     CAST(len(list_filter(toks, x -> list_contains(
                       {_STOP['en']}, lower(x)))) AS INT) AS n_stop_hits
              FROM t
            )
            SELECT doc_id, n_words, mean_word_len, dup_3gram_frac, n_stop_hits,
                   n_words >= 10 AND n_words <= 100000 AS ok_n_words,
                   mean_word_len >= 2.0 AND mean_word_len <= 12.0 AS ok_word_len,
                   dup_3gram_frac <= 0.5 AS ok_repetition,
                   n_stop_hits >= 2 AS ok_stopwords,
                   (n_words >= 10 AND n_words <= 100000)
                     AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
                     AND dup_3gram_frac <= 0.5 AND n_stop_hits >= 2 AS keep
            FROM g
        """,
        "perplexity_buckets": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                           CAST(count(*) AS DOUBLE) AS v FROM freq),
            sc AS (SELECT tok.doc_id,
                          round(avg(ln((freq.cnt + 1.0) / (tot.total + tot.v))), 6)
                            AS logprob
                   FROM tok JOIN freq USING (tok), tot GROUP BY tok.doc_id),
            n AS (SELECT d.doc_id, d.lang, sc.logprob,
                         ntile(3) OVER (PARTITION BY d.lang
                                        ORDER BY sc.logprob DESC, d.doc_id ASC) AS nt
                  FROM documents d JOIN sc ON sc.doc_id = d.doc_id)
            SELECT doc_id, lang, logprob,
                   CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                           ELSE 'tail' END AS bucket
            FROM n
        """,
        "ann_range_search": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            s AS (SELECT vec_id,
                         round(CAST(list_cosine_similarity(embedding, q.qv)
                                    AS DOUBLE), 4) AS cosine
                  FROM embeddings, q)
            SELECT vec_id, cosine FROM s WHERE cosine >= 0.2
        """,
        "kmeans_assign": """
            WITH c AS (SELECT vec_id AS cid, embedding AS cv
                       FROM embeddings WHERE vec_id < 8),
            s AS (SELECT e.vec_id, c.cid,
                         CAST(list_cosine_similarity(e.embedding, c.cv) AS DOUBLE)
                           AS cos
                  FROM embeddings e CROSS JOIN c),
            r AS (SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cos DESC, cid DESC) AS rn
                  FROM s)
            SELECT vec_id, CAST(cid AS INT) AS cluster FROM r WHERE rn = 1
        """,
        "lsh_bucket_stats": f"""
            WITH sig AS (
              SELECT doc_id,
                     min(md5('0|' || tok)) AS mh0, min(md5('1|' || tok)) AS mh1,
                     min(md5('2|' || tok)) AS mh2, min(md5('3|' || tok)) AS mh3
              FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
              GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bh FROM sig
            ),
            sizes AS (SELECT band, bh, count(*) AS bucket_size
                      FROM bands GROUP BY band, bh)
            SELECT CAST(band AS INT) AS band, bucket_size, count(*) AS n_buckets
            FROM sizes GROUP BY band, bucket_size
        """,
        "dup_rate_by_source": f"""
            WITH h AS (SELECT doc_id, source,
                              md5(array_to_string(({_TOKS})[1:8], ' ')) AS sig
                       FROM documents),
            c AS (SELECT sig, count(*) AS n FROM h GROUP BY sig)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_docs,
                   round(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS dup_rate
            FROM h JOIN c USING (sig) GROUP BY source
        """,
        # table_profile_approx: rows-only by design (HLL estimates are
        # engine-specific; tolerance vs exact pinned in pytest)
        "keep_best_per_group": """
            SELECT source, lang, doc_id, n_chars FROM (
              SELECT source, lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source, lang
                         ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM documents) WHERE rn = 1
        """,
        "iqr_outliers": """
            WITH f AS (SELECT event_type AS grp,
                              quantile_cont(value, 0.25) AS q1,
                              quantile_cont(value, 0.75) AS q3
                       FROM events WHERE value IS NOT NULL GROUP BY 1),
            b AS (SELECT grp, q1 - 1.5 * (q3 - q1) AS lo,
                         q3 + 1.5 * (q3 - q1) AS hi FROM f)
            SELECT b.grp AS event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier,
                   round(b.lo, 6) AS lo, round(b.hi, 6) AS hi
            -- IS NOT DISTINCT FROM: the engine joins fences null-safely
            -- since r10 (a NULL group is a real audit population)
            FROM events e JOIN b ON e.event_type IS NOT DISTINCT FROM b.grp
            WHERE e.value IS NOT NULL
            GROUP BY b.grp, b.lo, b.hi
        """,
        "corr_stats": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr_xy,
                   round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_xy,
                   round(stddev_samp(l_quantity), 6) AS sd_x,
                   round(stddev_samp(l_extendedprice), 6) AS sd_y
            FROM lineitem GROUP BY 1
        """,
        "token_len_histogram": f"""
            SELECT CAST(floor(len({_TOKS}) / 32) * 32 AS BIGINT) AS bucket_lo,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        """,
        "bucket_skew_stats": """
            WITH per AS (
              SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 32 AS bucket,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE user_id IS NOT NULL GROUP BY 1)
            SELECT bucket, n,
                   round(n / ((SELECT sum(n) FROM per) / 32.0), 6) AS skew
            FROM per
        """,
        "tfidf_top_terms": """
            WITH toks AS (SELECT doc_id,
                                 unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
                          FROM documents),
            st AS (SELECT term, CAST(count(*) AS BIGINT) AS tf,
                          CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                   FROM toks GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT term, tf, df,
                   round(tf * ln((n.n_docs + 1.0) / (df + 1.0)), 6) AS score
            FROM st, n WHERE df >= 2
            ORDER BY score DESC, term ASC LIMIT 20
        """,
        "pack_efficiency": f"""
            WITH t AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                       FROM documents),
            c AS (SELECT doc_id, n_tokens,
                         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                              AS BIGINT) AS tok_offset
                  FROM t),
            per AS (SELECT CAST(floor(tok_offset / 256) AS BIGINT) AS pack_id,
                           CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(n_tokens) AS BIGINT) AS toks
                    FROM c GROUP BY 1)
            SELECT CAST(count(*) AS BIGINT) AS n_packs,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS total_tokens,
                   round(avg(n_docs), 6) AS avg_docs_per_pack,
                   round(avg(toks) / 256.0, 6) AS avg_fill_ratio,
                   CAST(max(toks) AS BIGINT) AS max_pack_tokens
            FROM per
        """,
        "consecutive_dedup": """
            WITH o AS (SELECT user_id, event_id, event_type,
                              lag(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS prev,
                              row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
                       FROM events)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_kept,
                   min(event_id) AS first_event
            FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            GROUP BY 1
        """,
        "minhash_jaccard_error": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
            tk AS (SELECT doc_id,
                          list_distinct(list_filter(
                              regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS t
                   FROM d),
            s AS (SELECT doc_id,
                         min(md5('0|' || tok)) AS mh0, min(md5('1|' || tok)) AS mh1,
                         min(md5('2|' || tok)) AS mh2, min(md5('3|' || tok)) AS mh3
                  -- same token definition as tk: empties dropped, so the
                  -- signature lanes and the exact Jaccard agree with the
                  -- Spark-side whitespace_tokenizer on edge whitespace
                  FROM (SELECT doc_id, unnest(t) AS tok FROM tk)
                  GROUP BY doc_id),
            pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          (CAST(a.mh0 = b.mh0 AS INT) + CAST(a.mh1 = b.mh1 AS INT)
                           + CAST(a.mh2 = b.mh2 AS INT) + CAST(a.mh3 = b.mh3 AS INT))
                          / 4.0 AS est
                   FROM s a JOIN s b ON a.doc_id < b.doc_id),
            ex AS (SELECT pr.id_a, pr.id_b, pr.est,
                          len(list_intersect(ta.t, tb.t)) * 1.0
                          / len(list_distinct(ta.t || tb.t)) AS exact
                   FROM pr JOIN tk ta ON ta.doc_id = pr.id_a
                           JOIN tk tb ON tb.doc_id = pr.id_b)
            SELECT id_a, id_b, round(est, 6) AS est_jaccard,
                   round(exact, 6) AS exact_jaccard,
                   round(abs(est - exact), 6) AS abs_err
            FROM ex
        """,
        "semantic_dedup": """
            WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings WHERE vec_id < 8),
            s AS (SELECT e.vec_id, c.cid,
                         CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                     c.cv) AS DOUBLE) AS cos
                  FROM embeddings e CROSS JOIN c WHERE e.vec_id < 500),
            r AS (SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cos DESC, cid DESC) AS rn
                  FROM s),
            asg AS (SELECT a.vec_id, a.cid AS cluster,
                           CAST(e.embedding AS DOUBLE[]) AS v
                    FROM r a JOIN embeddings e USING (vec_id) WHERE rn = 1),
            p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         CAST(a.cluster AS INT) AS cluster,
                         round(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 4)
                           + 0.0 AS cosine
                  FROM asg a JOIN asg b
                    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
            SELECT id_a, id_b, cluster, cosine FROM p WHERE cosine >= 0.3
        """,
        # doc_len_quantiles_approx: rows-only by design (t-digest
        # estimates are engine-specific; tolerance pinned in pytest)
        # ------------------------------------------- r4-new declarations
        "bigram_logprob": f"""
            WITH tk AS (SELECT doc_id, {_TOKSF} AS t FROM documents),
            pr AS (
              SELECT doc_id, t[i] AS w1, t[i+1] AS w2
              FROM tk, UNNEST(range(1, len(t))) AS u(i)
              WHERE len(t) >= 2
            ),
            b AS (SELECT w1, w2, count(*) AS cnt2 FROM pr GROUP BY w1, w2),
            un AS (SELECT w1, count(*) AS cnt1 FROM pr GROUP BY w1),
            v AS (SELECT count(*) AS v FROM un),
            agg AS (
              SELECT doc_id,
                     round(avg(ln((cnt2 + 1.0) / (cnt1 + v.v))), 4) AS bigram_logprob
              FROM pr JOIN b USING (w1, w2) JOIN un USING (w1), v
              GROUP BY doc_id
            )
            SELECT d.doc_id, a.bigram_logprob
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "js_divergence_by_source": f"""
            WITH tk AS (
              SELECT source AS grp, unnest({_TOKSF}) AS term FROM documents
            ),
            pg AS (SELECT grp, term, count(*) AS c_g FROM tk GROUP BY grp, term),
            gt AS (SELECT grp, CAST(sum(c_g) AS BIGINT) AS n_g FROM pg GROUP BY grp),
            co AS (SELECT term, CAST(sum(c_g) AS BIGINT) AS c_all FROM pg GROUP BY term),
            tot AS (SELECT count(*) AS n FROM tk),
            j AS (
              SELECT pg.grp, gt.n_g,
                     pg.c_g / CAST(gt.n_g AS DOUBLE) AS p,
                     co.c_all / CAST(tot.n AS DOUBLE) AS q
              FROM pg JOIN gt USING (grp) JOIN co USING (term), tot
            ),
            agg AS (
              SELECT grp, max(n_g) AS n_tokens,
                     sum(0.5 * p * ln(p / ((p + q) / 2))
                         + 0.5 * q * ln(q / ((p + q) / 2))) AS js_obs,
                     sum(q) AS q_obs
              FROM j GROUP BY grp
            )
            SELECT grp, CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(js_obs + 0.5 * (1 - q_obs) * ln(2), 6) AS js
            FROM agg
        """,
        "tokenizer_fertility": f"""
            WITH per AS (
              SELECT lang AS grp,
                     len({_TOKSF}) AS w,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS s,
                     length(text) AS c
              FROM documents
            )
            SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
                   round(CAST(sum(s) AS DOUBLE) / sum(w), 6) AS fertility,
                   round(CAST(sum(c) AS DOUBLE) / sum(s), 6) AS chars_per_subword
            FROM per WHERE w > 0 GROUP BY grp
        """,
        "code_score": f"""
            SELECT doc_id,
                   round(least(1.0,
                       (len(regexp_extract_all(text, '[{{}}\\[\\]()<>;=#]'))
                        / CAST(greatest(length(text), 1) AS DOUBLE)) * 8.0
                       + (len(regexp_extract_all(text,
                              '\\b[a-z]+(?:_[a-z0-9]+|[A-Z][a-z0-9]+)\\w*\\b'))
                          / CAST(greatest(len({_TOKSF}), 1) AS DOUBLE)) * 0.5
                   ), 6) AS code_score
            FROM documents
        """,
        "snapshot_diff": """
            WITH old AS (
              SELECT doc_id AS id, md5(text) AS sig_o
              FROM documents WHERE doc_id % 7 <> 0
            ),
            new AS (
              SELECT doc_id AS id,
                     md5(CASE WHEN doc_id % 3 = 0 THEN text || ' [v2]'
                              ELSE text END) AS sig_n
              FROM documents WHERE doc_id % 5 <> 0
            ),
            j AS (
              -- presence-based status (r11): id presence decides
              -- added/removed; signatures compare null-safely, so a
              -- NULL-text row is never misfiled as added/removed
              SELECT CASE WHEN o.id IS NULL THEN 'added'
                          WHEN n.id IS NULL THEN 'removed'
                          WHEN o.sig_o IS NOT DISTINCT FROM n.sig_n
                               THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM old o FULL OUTER JOIN new n ON o.id = n.id
            )
            SELECT status, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY status
        """,
        "bloom_decontaminate_screen": f"""
            WITH tok AS (SELECT doc_id, {_TOKSF} AS t FROM documents),
            evg AS (
              SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS gram
              FROM tok, UNNEST(range(1, len(t) - 5 + 2)) AS u(i)
              WHERE len(t) >= 5 AND doc_id % 29 = 0
            ),
            evp AS (
              SELECT DISTINCT
                CAST(CAST(concat('0x', substring(md5(concat(CAST(h AS VARCHAR), '|', gram)), 1, 15)) AS BIGINT) % 65536 AS INT) AS pos
              FROM evg, UNNEST([0, 1, 2]) AS hh(h)
            ),
            dg AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
              FROM tok, UNNEST(range(1, len(t) - 5 + 2)) AS u(i)
              WHERE len(t) >= 5 AND doc_id % 29 <> 0
            ),
            dgp AS (
              SELECT doc_id, gram,
                CAST(CAST(concat('0x', substring(md5(concat(CAST(h AS VARCHAR), '|', gram)), 1, 15)) AS BIGINT) % 65536 AS INT) AS pos
              FROM dg, UNNEST([0, 1, 2]) AS hh(h)
            ),
            gh AS (
              SELECT doc_id, gram,
                     bool_and(pos IN (SELECT pos FROM evp)) AS flagged
              FROM dgp GROUP BY doc_id, gram
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_grams,
                     sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS n_flagged
              FROM gh GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(coalesce(a.n_grams, 0) AS INT) AS n_grams,
                   CAST(coalesce(a.n_flagged, 0) AS INT) AS n_flagged,
                   coalesce(a.n_flagged, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) c
            LEFT JOIN agg a USING (doc_id)
        """,
        "kfold_assign": """
            SELECT doc_id,
                   CAST(CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), ':42')), 1, 8)) AS BIGINT) % 5 AS INT) AS fold
            FROM documents
        """,
        "cms_heavy_hitters": f"""
            WITH tk AS (SELECT unnest({_TOKSF}) AS term FROM documents),
            buck AS (
              SELECT h AS row, term,
                CAST(CAST(concat('0x', substring(md5(concat(CAST(h AS VARCHAR), '|', term)), 1, 15)) AS BIGINT) % 1024 AS INT) AS bucket
              FROM tk, UNNEST([0, 1, 2]) AS hh(h)
            ),
            sk AS (SELECT row, bucket, count(*) AS scnt FROM buck GROUP BY row, bucket),
            top AS (
              SELECT term, count(*) AS cnt FROM tk GROUP BY term
              ORDER BY cnt DESC, term ASC LIMIT 20
            ),
            probe AS (
              SELECT term, cnt, h AS row,
                CAST(CAST(concat('0x', substring(md5(concat(CAST(h AS VARCHAR), '|', term)), 1, 15)) AS BIGINT) % 1024 AS INT) AS bucket
              FROM top, UNNEST([0, 1, 2]) AS hh(h)
            )
            SELECT term, CAST(any_value(cnt) AS BIGINT) AS cnt,
                   CAST(min(coalesce(sk.scnt, 0)) AS BIGINT) AS est_cnt
            FROM probe LEFT JOIN sk USING (row, bucket)
            GROUP BY term
        """,
        "zipf_slope": f"""
            WITH tk AS (SELECT lang AS grp, unnest({_TOKSF}) AS term FROM documents),
            f AS (SELECT grp, term, count(*) AS cnt FROM tk GROUP BY grp, term),
            r AS (
              SELECT grp, cnt,
                     row_number() OVER (PARTITION BY grp
                                        ORDER BY cnt DESC, term ASC) AS rank
              FROM f
            )
            SELECT grp, CAST(count(*) AS BIGINT) AS n_terms,
                   CASE WHEN var_pop(ln(rank)) > 0 THEN
                     CASE WHEN abs(regr_slope(ln(cnt), ln(rank))) < 1e-9 THEN 0.0
                          ELSE round(regr_slope(ln(cnt), ln(rank)), 6) + 0.0 END
                   END AS slope
            FROM r WHERE rank <= 100 GROUP BY grp
        """,
        "sentence_stats": """
            WITH s AS (
              SELECT doc_id,
                     -- coalesce mirrors the Spark side's NULL-text totality
                     coalesce(list_filter(list_transform(
                         regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
                       x -> x <> ''), []) AS sents
              FROM documents
            )
            SELECT doc_id, CAST(len(sents) AS INT) AS n_sentences,
                   CASE WHEN len(sents) > 0 THEN
                     round(CAST(list_sum(list_transform(sents,
                         s2 -> len(list_filter(regexp_split_to_array(s2, '\\s+'),
                                               w -> w <> '')))) AS DOUBLE)
                           / len(sents), 6)
                   END AS avg_sentence_words
            FROM s
        """,
        "quantile_normalize": """
            SELECT doc_id, lang AS grp, n_chars,
                   round(percent_rank() OVER (PARTITION BY lang
                         ORDER BY n_chars ASC, doc_id ASC), 6) AS pct_rank
            FROM documents
        """,
        "mad_outliers": """
            WITH med AS (
              SELECT lang AS grp, quantile_cont(n_chars, 0.5) AS med
              FROM documents GROUP BY lang
            ),
            j AS (
              SELECT d.lang AS grp, d.n_chars, m.med,
                     abs(d.n_chars - m.med) AS adev
              -- IS NOT DISTINCT FROM: the engine joins medians/MAD
              -- null-safely since r10 (a NULL group is a real population)
              FROM documents d JOIN med m ON d.lang IS NOT DISTINCT FROM m.grp
            ),
            madt AS (SELECT grp, quantile_cont(adev, 0.5) AS mad FROM j GROUP BY grp)
            SELECT j.grp, CAST(count(*) AS BIGINT) AS n,
                   round(any_value(j.med), 6) AS med,
                   round(any_value(madt.mad), 6) AS mad,
                   CAST(sum(CASE WHEN abs(j.n_chars - j.med) > 3.0 * madt.mad
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier
            FROM j JOIN madt ON j.grp IS NOT DISTINCT FROM madt.grp
            GROUP BY j.grp
        """,
        "truncate_tokens": f"""
            -- coalesce mirrors the Spark side's NULL-text totality
            WITH t AS (SELECT doc_id, coalesce({_TOKSF}, []) AS tk FROM documents)
            SELECT doc_id, array_to_string(tk[1:32], ' ') AS text,
                   CAST(least(len(tk), 32) AS INT) AS n_tokens,
                   len(tk) > 32 AS truncated
            FROM t
        """,
        "label_centroids": """
            SELECT label, CAST(i - 1 AS INT) AS pos,
                   round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_val
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
            GROUP BY label, i
        """,
        "sliding_distinct_users": """
            WITH w AS (
              SELECT user_id,
                     TIMESTAMP '1970-01-01 00:00:00'
                       + INTERVAL (floor(epoch(ts) / 1800) * 1800 - 1800 * j) SECOND
                       AS win_start
              FROM events, UNNEST([0, 1]) AS u(j)
            )
            SELECT win_start, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM w GROUP BY win_start
        """,
        "rolling_avg_value": """
            SELECT event_id, user_id,
                   round(avg(value) OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS roll_avg
            FROM events
        """,
        "error_rate_anomaly": """
            WITH h AS (
              SELECT date_trunc('hour', ts) AS hour, count(*) AS n,
                     sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
              FROM events GROUP BY 1
            ),
            r AS (SELECT hour, n, n_err, n_err * 1.0 / n AS rate FROM h),
            s AS (SELECT avg(rate) AS mu, stddev_samp(rate) AS sd FROM r)
            SELECT hour, CAST(n AS BIGINT) AS n, CAST(n_err AS BIGINT) AS n_err,
                   round(rate, 6) AS rate,
                   round((rate - mu) / sd, 4) AS z,
                   abs(round((rate - mu) / sd, 4)) > 2.0 AS is_anomaly
            FROM r, s
        """,
        "rrf_fusion": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tok),
            tf AS (SELECT doc_id,
                          len(list_filter(toks, x -> x = 'spark')) AS tf,
                          len(toks) AS dl
                   FROM tok),
            dfreq AS (SELECT count(*) AS df FROM tf WHERE tf > 0),
            bm AS (
              -- top-50 cut on the 6dp-ROUNDED score with doc_id tiebreak:
              -- TextIndex.matches() rounds BEFORE top_n's cut, so the
              -- rounded ordering IS the engine's candidate-set semantics
              SELECT doc_id,
                     round(ln(1 + (n - df + 0.5) / (df + 0.5))
                           * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                           6) AS s
              FROM tf, stats, dfreq WHERE tf > 0
              ORDER BY s DESC, doc_id ASC
              LIMIT 50
            ),
            bmr AS (SELECT doc_id AS id,
                           row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
                    FROM bm),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            cs AS (
              SELECT vec_id AS id,
                     round(CAST(list_cosine_similarity(embedding, q.qv) AS DOUBLE), 4) AS c
              FROM embeddings, q
              ORDER BY list_cosine_similarity(embedding, q.qv) DESC, vec_id ASC
              LIMIT 50
            ),
            csr AS (SELECT id, row_number() OVER (ORDER BY c DESC, id ASC) AS rank
                    FROM cs),
            u AS (SELECT * FROM bmr UNION ALL SELECT * FROM csr)
            SELECT id, round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score,
                   CAST(count(*) AS BIGINT) AS n_lists
            FROM u GROUP BY id
            ORDER BY rrf_score DESC, id ASC LIMIT 20
        """,
        "session_duration_stats": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
              FROM g
            ), sess AS (
              SELECT user_id, session_id, count(*) AS n_events,
                     epoch_us(max(ts)) / 1000000.0
                       - epoch_us(min(ts)) / 1000000.0 AS dur
              FROM s GROUP BY user_id, session_id
            )
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_bounce,
                   round(avg(dur), 4) AS avg_duration_s,
                   round(avg(n_events * 1.0), 4) AS avg_events
            FROM sess GROUP BY user_id
        """,
        "kmv_distinct_users": """
            WITH pairs AS (
              SELECT DISTINCT event_type AS key,
                     CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       / 1152921504606846976.0 AS h
              FROM events WHERE user_id IS NOT NULL
            ),
            r AS (SELECT key, h,
                         row_number() OVER (PARTITION BY key ORDER BY h) AS rn
                  FROM pairs),
            syn AS (
              SELECT key, count(*) AS n,
                     max(CASE WHEN rn = 64 THEN h END) AS h64
              FROM r WHERE rn <= 64 GROUP BY key
            ),
            ex AS (SELECT event_type AS key, count(DISTINCT user_id) AS exact
                   FROM events GROUP BY event_type),
            est AS (
              SELECT key,
                     round(CASE WHEN n < 64 THEN n * 1.0
                                ELSE 63.0 / h64 END, 4) AS distinct_est
              FROM syn
            )
            SELECT est.key, est.distinct_est,
                   CAST(ex.exact AS BIGINT) AS exact_distinct,
                   round(abs(est.distinct_est - ex.exact), 4) AS abs_err
            FROM est JOIN ex USING (key)
        """,
        "time_decay_score": """
            WITH mx AS (SELECT max(ts) AS m FROM events)
            SELECT user_id,
                   round(sum(value * exp(-((epoch_us(mx.m) - epoch_us(ts))
                                           / 1000000.0) / 604800.0)), 4)
                     AS decay_score,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events, mx GROUP BY user_id
        """,
        "winsorized_stats": """
            WITH f AS (SELECT lang AS grp, quantile_cont(n_chars, 0.05) AS lo,
                              quantile_cont(n_chars, 0.95) AS hi
                       FROM documents GROUP BY lang)
            SELECT f.grp, CAST(count(*) AS BIGINT) AS n,
                   round(avg(n_chars), 6) AS mean_raw,
                   round(avg(least(greatest(n_chars * 1.0, lo), hi)), 6) AS mean_winsor,
                   CAST(sum(CASE WHEN n_chars < lo OR n_chars > hi
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
            FROM documents d JOIN f ON d.lang = f.grp GROUP BY f.grp
        """,
        "cms_error_stats": f"""
            WITH tk AS (SELECT unnest({_TOKSF}) AS term FROM documents),
            buck AS (
              SELECT h AS row, term,
                CAST(CAST(concat('0x', substring(md5(concat(CAST(h AS VARCHAR), '|', term)), 1, 15)) AS BIGINT) % 256 AS INT) AS bucket
              FROM tk, UNNEST([0, 1, 2]) AS hh(h)
            ),
            sk AS (SELECT row, bucket, count(*) AS scnt FROM buck GROUP BY row, bucket),
            truth AS (SELECT term, count(*) AS cnt FROM tk GROUP BY term),
            probe AS (
              SELECT t.term, t.cnt, h AS row,
                CAST(CAST(concat('0x', substring(md5(concat(CAST(h AS VARCHAR), '|', t.term)), 1, 15)) AS BIGINT) % 256 AS INT) AS bucket
              FROM truth t, UNNEST([0, 1, 2]) AS hh(h)
            ),
            est AS (
              SELECT term, any_value(cnt) AS cnt,
                     min(coalesce(sk.scnt, 0)) AS est_cnt
              FROM probe LEFT JOIN sk USING (row, bucket)
              GROUP BY term
            )
            SELECT CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(CASE WHEN est_cnt = cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
                   CAST(max(est_cnt - cnt) AS BIGINT) AS max_over,
                   CAST(sum(est_cnt - cnt) AS BIGINT) AS sum_over
            FROM est
        """,
        "index_advisor": """
            WITH s AS (SELECT count(*) AS n,
                              count(DISTINCT event_type) AS d_et,
                              count(DISTINCT user_id) AS d_uid
                       FROM events)
            SELECT * FROM (VALUES
              ('event_type', 2, 'eq',
               CASE WHEN (SELECT d_et * 1.0 / n FROM s) <= 0.01
                    THEN 'block' ELSE 'bloom' END),
              ('user_id', 1, 'eq',
               CASE WHEN (SELECT d_uid * 1.0 / n FROM s) <= 0.01
                    THEN 'block' ELSE 'bloom' END),
              ('ts', 1, 'range', 'zone'),
              ('value', 1, 'range', 'zone')
            ) AS t(col_name, n_refs, ops, recommendation)
        """,
        "salted_join_revenue": """
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "hist_quantile_est": """
            WITH b AS (
              SELECT lang AS grp, CAST(floor(n_chars / 10.0) AS INT) AS bin,
                     count(*) AS cnt
              FROM documents WHERE n_chars >= 0 AND n_chars < 640
              GROUP BY 1, 2
            ),
            tot AS (SELECT grp, sum(cnt) AS total FROM b GROUP BY grp),
            c AS (
              SELECT grp, bin, cnt,
                     sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum
              FROM b
            ),
            pick AS (
              SELECT c.grp, c.bin, c.cnt, c.cum, 0.5 * t.total AS target,
                     row_number() OVER (PARTITION BY c.grp ORDER BY c.bin) AS rn
              FROM c JOIN tot t USING (grp)
              WHERE c.cum >= 0.5 * t.total
            )
            SELECT grp,
                   round((bin + CASE WHEN cnt > 0
                                     THEN (target - (cum - cnt)) * 1.0 / cnt
                                     ELSE 0 END) * 10.0, 6) AS p50_est
            FROM pick WHERE rn = 1
        """,
        # ann_ivf_pq_top10: FULL oracle since r8 (was rows-only r4-r7).
        # Fixed quantizers (centroids = vectors 0..7, codebooks =
        # subvectors of vectors 0..15) make every stage reproducible:
        # assign/probe tie-break toward the HIGHER centroid id (Spark
        # array_max on struct<sim,idx>), code tie-break toward the LOWER
        # code (array_min on struct<d,i>), ADC shortlist by (dist, id),
        # exact cosine re-rank by (cosine DESC, id). Same CTE algebra as
        # the ivfpq lane inside ann_recall_stats.
        "ann_ivf_pq_top10": """
            WITH corpus AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (SELECT id AS qid, v AS qv FROM corpus WHERE id = 0),
            cents AS (SELECT id AS cid, v AS cv FROM corpus WHERE id < 8),
            assign AS (
                SELECT id, cid AS cluster FROM (
                    SELECT c.id, ct.cid,
                           row_number() OVER (PARTITION BY c.id
                               ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM corpus c CROSS JOIN cents ct
                ) WHERE rn = 1
            ),
            qprobe AS (
                SELECT cid FROM (
                    SELECT ct.cid,
                           row_number() OVER (
                               ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM q CROSS JOIN cents ct
                ) WHERE rn <= 4
            ),
            cb AS (
                SELECT s.s, c.id AS ci, c.v[s.s*16+1 : (s.s+1)*16] AS cv
                FROM corpus c CROSS JOIN (SELECT unnest(range(4)) AS s) s
                WHERE c.id < 16
            ),
            codes AS (
                SELECT id, s, ci AS code FROM (
                    SELECT c.id, cb.s, cb.ci,
                           row_number() OVER (PARTITION BY c.id, cb.s
                               ORDER BY list_sum(list_transform(range(16),
                                   i -> (c.v[cb.s*16 + i + 1] - cb.cv[i+1])
                                      * (c.v[cb.s*16 + i + 1] - cb.cv[i+1]))) ASC,
                                        cb.ci ASC) AS rn
                    FROM corpus c CROSS JOIN cb
                ) WHERE rn = 1
            ),
            lut AS (
                SELECT cb.s, cb.ci,
                       list_sum(list_transform(range(16),
                           i -> (q.qv[cb.s*16 + i + 1] - cb.cv[i+1])
                              * (q.qv[cb.s*16 + i + 1] - cb.cv[i+1]))) AS d2
                FROM q CROSS JOIN cb
            ),
            adc AS (
                SELECT a2.id, list_sum(list(a2.d2 ORDER BY a2.s)) AS dist
                FROM (
                    SELECT a.id, co.s, l.d2
                    FROM qprobe p
                    JOIN assign a ON a.cluster = p.cid
                    JOIN codes co ON co.id = a.id
                    JOIN lut l ON l.s = co.s AND l.ci = co.code
                ) a2
                GROUP BY a2.id
            ),
            short AS (
                SELECT id FROM (
                    SELECT id, row_number() OVER (ORDER BY dist ASC, id ASC) AS rn
                    FROM adc
                ) WHERE rn <= 50
            )
            SELECT c.id AS vec_id,
                   round(CAST(list_cosine_similarity(c.v, q.qv) AS DOUBLE), 4) AS cosine
            FROM short s JOIN corpus c ON c.id = s.id CROSS JOIN q
            ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.id ASC
            LIMIT 10
        """,
        # ann_lsh_top10: FULL oracle since r10 (was rows-only r2-r9).
        # md5-parity sign planes ('42|p|d', first hex digit >= 8 -> +1)
        # — identical CTE algebra to the lsh lane inside
        # ann_recall_stats, with hamming <= 2 multiprobe and qid 0.
        "ann_lsh_top10": """
            WITH corpus AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (SELECT v AS qv FROM corpus WHERE id = 0),
            planes AS (
                SELECT p, list_transform(range(64), d ->
                    CASE WHEN strpos('89abcdef',
                             substring(md5('42|' || p || '|' || d), 1, 1)) > 0
                         THEN 1.0 ELSE -1.0 END) AS w
                FROM (SELECT unnest(range(4)) AS p)
            ),
            buckets AS (
                SELECT c.id,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(64),
                                        i -> c.v[i+1] * pl.w[i+1])) >= 0
                                     THEN 1 << pl.p ELSE 0 END) AS INT) AS bucket
                FROM corpus c CROSS JOIN planes pl GROUP BY c.id
            ),
            qb AS (
                SELECT CAST(sum(CASE WHEN list_sum(list_transform(range(64),
                                        i -> q.qv[i+1] * pl.w[i+1])) >= 0
                                     THEN 1 << pl.p ELSE 0 END) AS INT) AS qb
                FROM q CROSS JOIN planes pl
            )
            SELECT c.id AS vec_id,
                   round(CAST(list_cosine_similarity(c.v, q.qv) AS DOUBLE), 4)
                       AS cosine
            FROM buckets b
            JOIN qb ON bit_count(xor(b.bucket, qb.qb)) <= 2
            JOIN corpus c ON c.id = b.id
            CROSS JOIN q
            ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.id ASC
            LIMIT 10
        """,
        # ann_ivf_top10: FULL oracle since r10 (was rows-only r2-r9).
        # Fixed centroids = vectors 0..7; assignment ties toward the
        # HIGHER centroid id (Spark array_max on struct<sim,idx>), the
        # query's probe ranking likewise (driver-side reverse tuple
        # sort) — same CTE algebra as ann_ivf_pq_top10 minus PQ.
        "ann_ivf_top10": """
            WITH corpus AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (SELECT v AS qv FROM corpus WHERE id = 0),
            cents AS (SELECT id AS cid, v AS cv FROM corpus WHERE id < 8),
            assign AS (
                SELECT id, cid AS cluster FROM (
                    SELECT c.id, ct.cid,
                           row_number() OVER (PARTITION BY c.id
                               ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM corpus c CROSS JOIN cents ct
                ) WHERE rn = 1
            ),
            qprobe AS (
                SELECT cid FROM (
                    SELECT ct.cid,
                           row_number() OVER (
                               ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM q CROSS JOIN cents ct
                ) WHERE rn <= 3
            )
            SELECT c.id AS vec_id,
                   round(CAST(list_cosine_similarity(c.v, q.qv) AS DOUBLE), 4)
                       AS cosine
            FROM qprobe p
            JOIN assign a ON a.cluster = p.cid
            JOIN corpus c ON c.id = a.id
            CROSS JOIN q
            ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.id ASC
            LIMIT 10
        """,
        # ann_pq_top10: FULL oracle since r10 (was rows-only r2-r9).
        # Fixed codebooks = subvectors of vectors 0..15; code ties
        # toward the LOWER code (array_min on struct<d,i>), ADC
        # shortlist 100 by (dist, id), exact cosine re-rank — the
        # ann_ivf_pq_top10 CTE algebra minus the coarse quantizer.
        "ann_pq_top10": """
            WITH corpus AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (SELECT v AS qv FROM corpus WHERE id = 0),
            cb AS (
                SELECT s.s, c.id AS ci, c.v[s.s*16+1 : (s.s+1)*16] AS cv
                FROM corpus c CROSS JOIN (SELECT unnest(range(4)) AS s) s
                WHERE c.id < 16
            ),
            codes AS (
                SELECT id, s, ci AS code FROM (
                    SELECT c.id, cb.s, cb.ci,
                           row_number() OVER (PARTITION BY c.id, cb.s
                               ORDER BY list_sum(list_transform(range(16),
                                   i -> (c.v[cb.s*16 + i + 1] - cb.cv[i+1])
                                      * (c.v[cb.s*16 + i + 1] - cb.cv[i+1]))) ASC,
                                        cb.ci ASC) AS rn
                    FROM corpus c CROSS JOIN cb
                ) WHERE rn = 1
            ),
            lut AS (
                SELECT cb.s, cb.ci,
                       list_sum(list_transform(range(16),
                           i -> (q.qv[cb.s*16 + i + 1] - cb.cv[i+1])
                              * (q.qv[cb.s*16 + i + 1] - cb.cv[i+1]))) AS d2
                FROM q CROSS JOIN cb
            ),
            adc AS (
                SELECT co.id, list_sum(list(l.d2 ORDER BY l.s)) AS dist
                FROM codes co
                JOIN lut l ON l.s = co.s AND l.ci = co.code
                GROUP BY co.id
            ),
            short AS (
                SELECT id FROM (
                    SELECT id, row_number() OVER (ORDER BY dist ASC, id ASC) AS rn
                    FROM adc
                ) WHERE rn <= 100
            )
            SELECT c.id AS vec_id,
                   round(CAST(list_cosine_similarity(c.v, q.qv) AS DOUBLE), 4)
                       AS cosine
            FROM short s JOIN corpus c ON c.id = s.id CROSS JOIN q
            ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.id ASC
            LIMIT 10
        """,
        # embedding_near_dup: FULL oracle since r10 (was rows-only
        # r2-r9). md5-parity planes (6 bits), planted float32
        # perturbations (x*1.001 rounded to float — IEEE-exact in both
        # engines), threshold on the ROUNDED cosine (round 4, the
        # range_search convention).
        "embedding_near_dup": """
            WITH corpus AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000 AS id,
                       list_transform(CAST(embedding AS DOUBLE[]),
                           x -> CAST(CAST(x * CAST(1.001 AS DOUBLE) AS FLOAT)
                                     AS DOUBLE)) AS v
                FROM embeddings WHERE vec_id < 50
            ),
            planes AS (
                SELECT p, list_transform(range(64), d ->
                    CASE WHEN strpos('89abcdef',
                             substring(md5('42|' || p || '|' || d), 1, 1)) > 0
                         THEN 1.0 ELSE -1.0 END) AS w
                FROM (SELECT unnest(range(6)) AS p)
            ),
            buckets AS (
                SELECT c.id,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(64),
                                        i -> c.v[i+1] * pl.w[i+1])) >= 0
                                     THEN 1 << pl.p ELSE 0 END) AS INT) AS bucket
                FROM corpus c CROSS JOIN planes pl GROUP BY c.id
            ),
            cand AS (
                SELECT ba.id AS id_a, bb.id AS id_b,
                       round(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 4)
                           AS cosine
                FROM buckets ba
                JOIN buckets bb ON ba.bucket = bb.bucket AND ba.id < bb.id
                JOIN corpus a ON a.id = ba.id
                JOIN corpus b ON b.id = bb.id
            )
            SELECT id_a, id_b, cosine FROM cand WHERE cosine >= 0.98
        """,
        # knn_join_ivf_top5: FULL oracle since r10 (was rows-only
        # r2-r9). Fixed centroids = vectors 0..7; per-query 4-probe
        # (ties toward the higher centroid id, matching
        # probe_queries' array_sort/reverse), per-query exact-cosine
        # top-5 over candidates with (cosine DESC, id ASC) — the
        # knn_join_top5 output convention (round 6).
        "knn_join_ivf_top5": """
            WITH corpus AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (SELECT id AS query_id, v AS qv FROM corpus WHERE id < 5),
            cents AS (SELECT id AS cid, v AS cv FROM corpus WHERE id < 8),
            assign AS (
                SELECT id, cid AS cluster FROM (
                    SELECT c.id, ct.cid,
                           row_number() OVER (PARTITION BY c.id
                               ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM corpus c CROSS JOIN cents ct
                ) WHERE rn = 1
            ),
            qprobe AS (
                SELECT query_id, cid FROM (
                    SELECT q.query_id, ct.cid,
                           row_number() OVER (PARTITION BY q.query_id
                               ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
                                        ct.cid DESC) AS rn
                    FROM q CROSS JOIN cents ct
                ) WHERE rn <= 4
            ),
            ranked AS (
                SELECT q.query_id, c.id,
                       list_cosine_similarity(q.qv, c.v) AS cos_raw,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(q.qv, c.v) DESC,
                                    c.id ASC) AS rank
                FROM qprobe p
                JOIN q ON q.query_id = p.query_id
                JOIN assign a ON a.cluster = p.cid
                JOIN corpus c ON c.id = a.id
            )
            SELECT query_id, id, round(cos_raw, 6) + 0.0 AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "rfm_segments": """
            WITH pc AS (
              SELECT o_custkey, max(o_orderdate) AS recency,
                     count(*) AS frequency,
                     round(sum(o_totalprice), 2) AS monetary
              FROM orders GROUP BY o_custkey
            ),
            q AS (
              SELECT o_custkey,
                     ntile(4) OVER (ORDER BY recency DESC, o_custkey ASC) AS recency_q,
                     ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS frequency_q,
                     ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS monetary_q,
                     recency, frequency, monetary
              FROM pc
            )
            SELECT o_custkey, CAST(recency_q AS INT) AS recency_q,
                   CAST(frequency_q AS INT) AS frequency_q,
                   CAST(monetary_q AS INT) AS monetary_q,
                   concat(recency_q, '-', frequency_q, '-', monetary_q) AS segment
            FROM q
        """,
        "curriculum_interleave": """
            WITH g AS (
              -- NULLS FIRST + IS NOT DISTINCT FROM: the engine is
              -- null-safe (asc_nulls_first + eqNullSafe) and treats a
              -- NULL lang as a real group — mirror that here
              SELECT lang, row_number() OVER (ORDER BY lang NULLS FIRST) - 1 AS gidx
              FROM (SELECT DISTINCT lang FROM documents)
            ),
            r AS (
              SELECT doc_id, lang AS grp,
                     row_number() OVER (PARTITION BY lang
                         ORDER BY n_chars DESC, doc_id ASC) AS rank_in_group
              FROM documents
            ),
            n AS (SELECT count(*) AS ng FROM g)
            SELECT r.doc_id, r.grp, CAST(r.rank_in_group AS INT) AS rank_in_group,
                   CAST((r.rank_in_group - 1) * n.ng + g.gidx AS BIGINT) AS global_pos
            FROM r JOIN g ON r.grp IS NOT DISTINCT FROM g.lang, n
        """,
        "paragraph_dedup": """
            WITH a AS (SELECT doc_id, doc_id % 250 AS base, doc_id % 100 AS sid
                       FROM documents),
            b AS (SELECT doc_id AS base, text AS ptext FROM documents),
            synth AS (
              SELECT sid, string_agg(ptext, chr(10) || chr(10) ORDER BY a.doc_id) AS text
              FROM a JOIN b USING (base) GROUP BY sid
            ),
            sp AS (SELECT sid, str_split(text, chr(10) || chr(10)) AS t FROM synth),
            spans AS (
              SELECT sid, i AS pos, t[i] AS span, md5(t[i]) AS h
              FROM sp, UNNEST(range(1, len(t) + 1)) AS u(i)
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY h ORDER BY sid, pos) AS rk
              FROM spans
            ),
            rebuilt AS (
              SELECT sid, string_agg(span, chr(10) || chr(10) ORDER BY pos) AS text
              FROM ranked WHERE rk = 1 GROUP BY sid
            )
            SELECT s.sid, coalesce(r.text, '') AS text
            FROM synth s LEFT JOIN rebuilt r USING (sid)
        """,
    }
