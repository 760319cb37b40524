"""The perfbench workloads: ``lookup`` (with its writer) and ``dedup``.

A workload generates its input tables and oracles once
(:meth:`Workload.generate`), builds its indexes from an empty index
root as often as the runner asks (:meth:`Workload.build_indexes`), and
then yields closed-loop cycles of :class:`Op`. Each op calls the
package and returns an answer that the runner compares with an oracle
computed without any index: plain Spark filter counts for ``lookup``,
brute-force shingle Jaccard and seed-invariant
cluster counts for ``dedup``.

Spans (see ``spans.py``) are opened around every call into the
package; they cost nothing while tracing is off.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass
from typing import Callable, Dict, Iterable, Iterator, List

from pyspark.sql import functions as F

import gen
from spans import Tracer


@dataclass
class Op:
    kind: str
    run: Callable[[Dict], object]  # fills the op record, returns the answer
    expected: object
    input_rows: int


def tree_bytes(path: str, since: float = 0.0) -> int:
    """Bytes of the visible files under ``path`` last written at or
    after ``since`` (epoch seconds); Hadoop's ``.crc`` sidecars and
    other hidden files excluded."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if not f.startswith((".", "_")) and st.st_mtime >= since:
                total += st.st_size
    return total


def count_when(preds: List[str]):
    return [F.sum(F.when(F.expr(p), 1).otherwise(0)).alias(f"c{i}") for i, p in enumerate(preds)]


class Workload:
    name = ""

    def __init__(self, spark, spec: Dict, seed: int, work: str, tracer: Tracer):
        from elephant_twin_spark import Engine

        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.dir = work
        self.tr = tracer
        os.makedirs(work)
        self.index_root = os.path.join(work, "index")
        self.eng = Engine(spark, self.index_root)

    # -- helpers shared by the workloads
    def write(self, df, name: str, files: int, key: str) -> str:
        path = os.path.join(self.dir, name)
        df.repartition(files, key).write.parquet(path)
        return path

    def build(self, name: str, fn: Callable[[], object]) -> None:
        """One index build as a ``build.<name>`` span, with the index
        bytes it wrote."""
        t0 = time.time()
        with self.tr.span(f"build.{name}") as rec:
            fn()
        if rec is not None:
            rec["index_bytes"] = tree_bytes(self.index_root, t0)

    def oracle_counts(self, path: str, preds: List[str]) -> Dict[str, int]:
        """Plain Spark filter counts, one aggregate job for all
        predicates; no index is consulted."""
        row = self.spark.read.parquet(path).agg(*count_when(preds)).first()
        return {p: int(row[f"c{i}"] or 0) for i, p in enumerate(preds)}

    def query_op(self, kind: str, path: str, pred: str, expected: int, rows: int) -> Op:
        """``Engine.query`` plan + count action."""

        def run(rec):
            with self.tr.span("engine.plan"):
                df = self.eng.query(path, pred)
            with self.tr.span("engine.exec"):
                n = df.count()
            rec["scan"] = self.eng.last_metrics.as_dict()
            rec["rows_out"] = n
            return n

        return Op(kind, run, expected, rows)

    def count_op(self, path: str, pred: str, expected: int, rows: int) -> Op:
        def run(rec):
            with self.tr.span("engine.count"):
                n = self.eng.count(path, pred)
            rec["scan"] = self.eng.last_metrics.as_dict()
            rec["rows_out"] = n
            return n

        return Op("count", run, expected, rows)

    def setup_rep(self) -> None:
        """Drop every index, then build them all again."""
        if os.path.exists(self.index_root):
            shutil.rmtree(self.index_root)
        self.build_indexes()

    # -- interface
    def generate(self) -> None:
        """Write the input tables and compute the oracles."""
        raise NotImplementedError

    def build_indexes(self) -> None:
        raise NotImplementedError

    def warmup_ops(self) -> Iterable[Op]:
        raise NotImplementedError

    def cycles(self) -> Iterator[Iterable[Op]]:
        """Closed-loop cycles; a cycle holds every op kind in fixed
        proportions."""
        raise NotImplementedError

    def data_bytes(self) -> int:
        raise NotImplementedError

    def index_bytes(self) -> int:
        return tree_bytes(self.index_root)

    def after_op(self, op: Op, rec: Dict) -> None:
        """Traced-run extras computed outside the op's timing."""


# ===================================================================== lookup


class Lookup(Workload):
    """The read path, with a writer beside it: index-pruned predicates
    over three copies of the events table, bloom point lookups on
    lineitem and text queries. The unclustered copy always holds its
    base files plus one appended batch file. Halfway through every
    cycle the writer swaps that file for the next batch, so the rest of
    the cycle reads a new file and a deleted one while the indexes are
    stale; the cycle ends by refreshing that copy's block, zone and
    bloom indexes. Every cycle therefore writes and reads the same
    volume, however many cycles a run gets through."""

    name = "lookup"
    #: indexes of the unclustered events copy, refreshed every cycle
    LIVE = (("block", "event_type"), ("zone", "ts"), ("bloom", "user_id"))

    def generate(self) -> None:
        s, seed = self.spec, self.seed
        ev, li, dc, bt = s["events"], s["lineitem"], s["documents"], s["batches"]
        events = self.write(
            gen.events(self.spark, seed, ev["rows"], ev["users"]), "events", ev["files"], "event_id"
        )
        from elephant_twin_spark.operators import layout

        self.paths = {"events": events}
        for name, col in (("events_by_type", "event_type"), ("events_by_ts", "ts")):
            self.paths[name] = layout.cluster_table(
                self.spark, events, os.path.join(self.dir, name), [col], num_files=ev["files"]
            )
        self.paths["lineitem"] = self.write(
            gen.lineitem(self.spark, seed, li["rows"], li["suppliers"]),
            "lineitem", li["files"], "l_orderkey",
        )
        g, docs = gen.documents(seed, dc["rows"], tuple(dc["words"]), dc["vocab"])
        self.paths["documents"] = self.write(
            self.spark.createDataFrame(docs, gen.DOC_SCHEMA), "documents", dc["files"], "doc_id"
        )
        # every appended batch is one file, staged up front; landing it
        # moves it into the table like a writer committing a new file
        batches = gen.events(
            self.spark, seed + 1, bt["count"] * bt["rows"], ev["users"],
            id_offset=ev["rows"], day0=gen.BASE_DAYS, days=bt["count"] * bt["days"],
        ).withColumn("batch", F.floor((F.col("event_id") - ev["rows"]) / bt["rows"]))
        self.staged = os.path.join(self.dir, "staged")
        batches.repartition(bt["count"], "batch").write.partitionBy("batch").parquet(self.staged)
        self.rows = {"events": ev["rows"] + bt["rows"], "events_by_type": ev["rows"],
                     "events_by_ts": ev["rows"], "lineitem": li["rows"],
                     "documents": dc["rows"]}
        self.landed = None

        pool = gen.lookup_pool(seed, s["pool"], ev["users"], li["suppliers"])
        # the three events copies start with the same rows, so one plain
        # scan of the unclustered copy answers for all of them; the
        # landed batch adds its own counts to the unclustered copy only
        self.expected = {}
        for src in ("events", "lineitem"):
            preds = sorted({e["pred"] for e in pool if (e["table"] == "lineitem") == (src == "lineitem")})
            counts = self.oracle_counts(self.paths[src], preds)
            for e in pool:
                if e["pred"] in counts:
                    self.expected[(e["table"], e["pred"])] = counts[e["pred"]]
        preds = sorted({e["pred"] for e in pool if e["table"] == "events"})
        per_batch = self.spark.read.parquet(self.staged).groupBy("batch").agg(
            *count_when(preds)
        ).collect()
        self.batch_counts = {
            int(r["batch"]): {p: int(r[f"c{i}"]) for i, p in enumerate(preds)} for r in per_batch
        }
        texts = gen.text_queries(g, docs, s["text_queries"])
        for e in texts:
            e["table"], e["pred"] = "documents", e["query"]
        self.expected.update(self.text_oracle([e["query"] for e in texts]))
        self.pool = pool + texts
        self.order = gen.Cycles(seed, self.pool)
        self.swap()  # the indexes are built over the base files plus batch 0

    def build_indexes(self) -> None:
        nb = self.spec["num_buckets"]
        eng, p = self.eng, self.paths
        self.build("block", lambda: eng.build_index(p["events"], "event_type", num_buckets=nb))
        self.build("zone", lambda: eng.build_zone_index(p["events"], "ts"))
        self.build("bloom", lambda: eng.build_bloom_index(p["events"], "user_id"))
        self.build("block", lambda: eng.build_index(p["events_by_type"], "event_type", num_buckets=nb))
        self.build("zone", lambda: eng.build_zone_index(p["events_by_ts"], "ts"))
        self.build("bloom", lambda: eng.build_bloom_index(p["lineitem"], "l_suppkey"))
        self.build("text", lambda: eng.build_text_index(p["documents"], "text", "doc_id"))
        self.text_index = eng.text_index(p["documents"], "text")

    def text_oracle(self, queries: List[str]) -> Dict:
        toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
        padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))

        def cond(q: str):
            if " AND " in q:
                a, b = q.split(" AND ")
                return F.array_contains(toks, a) & F.array_contains(toks, b)
            if q.startswith('"'):
                return F.instr(padded, " " + q.strip('"') + " ") > 0
            if q.endswith("*"):
                return F.exists(toks, lambda t: t.startswith(q[:-1]))
            return F.array_contains(toks, q)

        row = self.spark.read.parquet(self.paths["documents"]).agg(
            *[F.sum(F.when(cond(q), 1).otherwise(0)).alias(f"t{i}") for i, q in enumerate(queries)]
        ).first()
        return {("documents", q): int(row[f"t{i}"] or 0) for i, q in enumerate(queries)}

    # -- the writer
    def swap(self) -> None:
        """Move the landed batch file back to staging and land the next
        one (not an op), like a writer committing a new file and a
        retention job deleting the old one."""
        count = self.spec["batches"]["count"]
        nxt = 0 if self.landed is None else (self.landed + 1) % count
        if self.landed is not None:
            k = self.landed
            self._move(self.paths["events"], os.path.join(self.staged, f"batch={k}"), f"b{k}-", "")
        self._move(os.path.join(self.staged, f"batch={nxt}"), self.paths["events"], "", f"b{nxt}-")
        self.landed = nxt

    @staticmethod
    def _move(src: str, dst: str, strip: str, prefix: str) -> None:
        # part names repeat across batch dirs, hence the prefix; the
        # checksum sidecars stay behind (Hadoop reads files without them)
        for f in os.listdir(src):
            if f.endswith(".parquet") and f.startswith(strip):
                os.rename(os.path.join(src, f), os.path.join(dst, prefix + f[len(strip):]))

    def refresh_op(self, kind: str, col: str) -> Op:
        from elephant_twin_spark.streaming import refresh

        fn = {"block": refresh.refresh_block_index, "zone": refresh.refresh_zone_index,
              "bloom": refresh.refresh_bloom_index}[kind]
        path = self.paths["events"]

        def run(rec):
            # a refresh rewrites the index files it keeps, so count the
            # bytes it wrote, not the change in index size
            t0 = time.time()
            with self.tr.span(f"refresh.{kind}") as srec:
                out = fn(self.spark, path, col, self.index_root)
            if srec is not None:
                srec["index_bytes"] = tree_bytes(self.index_root, t0)
            return (out["mode"], out["files_indexed"], out["files_removed"])

        return Op(f"refresh_{kind}", run, ("incremental", 1, 1), self.spec["batches"]["rows"])

    # -- ops
    def op(self, e: Dict) -> Op:
        table, pred = e["table"], e["pred"]
        exp, rows = self.expected[(table, pred)], self.rows[table]
        if table == "events":
            exp += self.batch_counts[self.landed][pred]
        if e["kind"] in gen.TEXT_KINDS:

            def run(rec):
                with self.tr.span("text.search"):
                    n = self.text_index.count(pred)
                rec["rows_out"] = n
                return n

            return Op("text", run, exp, rows)
        if e["kind"] == "count":
            return self.count_op(self.paths[table], pred, exp, rows)
        return self.query_op(e["kind"], self.paths[table], pred, exp, rows)

    def cycle(self, entries: List[Dict]) -> Iterator[Op]:
        """Ops are made when they are due, so their expected answers
        see the batch landed at that point."""
        half = len(entries) // 2
        for e in entries[:half]:
            yield self.op(e)
        self.swap()
        for e in entries[half:]:
            yield self.op(e)
        for kind, col in self.LIVE:
            yield self.refresh_op(kind, col)

    def warmup_ops(self) -> Iterator[Op]:
        return self.cycle(gen.Cycles(self.seed + 1, self.pool).next())

    def cycles(self) -> Iterator[Iterator[Op]]:
        while True:
            yield self.cycle(self.order.next())

    def data_bytes(self) -> int:
        return sum(tree_bytes(p) for p in self.paths.values())


# ====================================================================== dedup


class Dedup(Workload):
    """Batch LLM-data dedup: gate probe batches against a persisted LSH
    index, then near-dup clusters and pairs over the whole corpus."""

    name = "dedup"

    def generate(self) -> None:
        s, seed = self.spec, self.seed
        c, pb = s["corpus"], s["probes"]
        g, base = gen.documents(seed, c["base_docs"], tuple(c["words"]), c["vocab"])
        shift = c["replica_shift"]
        rows = [
            (doc_id + r * shift, text, src, lang)
            for r in range(c["replicas"]) for doc_id, text, src, lang in base
        ]
        self.n_rows = len(rows)
        self.docs = self.write(
            self.spark.createDataFrame(rows, gen.DOC_SCHEMA), "documents", c["files"], "doc_id"
        )
        batches = gen.probe_batches(g, base, pb["batches"], pb["size"], pb["id0"], tuple(c["words"]))
        self.probe_dfs = [self.spark.createDataFrame(b, "doc_id long, text string") for b in batches]
        self.gate_expected = self.gate_oracle(base, batches)
        n, r = c["base_docs"], c["replicas"]
        # replicas are exact copies and base documents are mutually far
        # apart, so these answers depend only on the sizes, not the seed
        self.clusters_expected = (n, n * (r - 1))
        self.pairs_expected = n * r * (r - 1) // 2
        self.gates = 0

    def build_indexes(self) -> None:
        lsh = self.spec["lsh"]
        self.build("lsh", lambda: self.eng.build_lsh_index(
            self.docs, "text", "doc_id", num_perm=lsh["num_perm"], num_bands=lsh["num_bands"]))
        self.lsh_index = self.eng.lsh_index(self.docs, "text")

    def gate_oracle(self, base, batches) -> List[List]:
        """Brute-force exact shingle Jaccard of every probe against the
        base documents (an inverted list over shingles only skips pairs
        that share none, whose Jaccard is 0). Replica 0 carries the base
        ids, so the lowest matching corpus id is the base id."""
        t = self.spec["threshold"]
        sh = {doc_id: gen.shingles(text) for doc_id, text, _, _ in base}
        inv: Dict[str, List[int]] = {}
        for doc_id, s in sh.items():
            for x in s:
                inv.setdefault(x, []).append(doc_id)
        out = []
        for batch in batches:
            hits = []
            for pid, text in batch:
                a = gen.shingles(text)
                shared = Counter(d for x in a for d in inv.get(x, ()))
                dup = [d for d, k in shared.items() if k / (len(a) + len(sh[d]) - k) >= t]
                if dup:
                    hits.append((pid, min(dup)))
            out.append(sorted(hits))
        return out

    def gate_op(self, b: int) -> Op:
        probe, t = self.probe_dfs[b], self.spec["threshold"]

        def run(rec):
            with self.tr.span("lsh.gate"):
                got = self.lsh_index.gate(probe, "text", "doc_id", threshold=t)
                hits = got.where("is_near_dup").select("doc_id", "dup_of").collect()
            rec["near_dups"] = len(hits)
            rec["probe_batch"] = b
            return sorted((int(r[0]), int(r[1])) for r in hits)

        return Op("gate", run, self.gate_expected[b], self.spec["probes"]["size"])

    def clusters_op(self) -> Op:
        from elephant_twin_spark.operators.pipeline import dedup

        lsh, t = self.spec["lsh"], self.spec["threshold"]

        def run(rec):
            with self.tr.span("dedup.clusters"):
                df = dedup.near_dup_clusters(
                    self.spark.read.parquet(self.docs), "text", "doc_id",
                    num_perm=lsh["num_perm"], num_bands=lsh["num_bands"],
                    threshold=t, edge_mode="star",
                )
                row = df.agg(
                    F.countDistinct("cluster_id"),
                    F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0)),
                ).first()
            return (int(row[0]), int(row[1]))

        return Op("clusters", run, self.clusters_expected, self.n_rows)

    def pairs_op(self) -> Op:
        from elephant_twin_spark.operators.pipeline import dedup

        lsh, t = self.spec["lsh"], self.spec["threshold"]

        def run(rec):
            with self.tr.span("dedup.pairs"):
                n = dedup.minhash_near_dup_pairs(
                    self.spark.read.parquet(self.docs), "text", "doc_id",
                    num_perm=lsh["num_perm"], num_bands=lsh["num_bands"], threshold=t,
                ).count()
            return n

        return Op("pairs", run, self.pairs_expected, self.n_rows)

    def next_gate(self) -> Op:
        op = self.gate_op(self.gates % len(self.probe_dfs))
        self.gates += 1
        return op

    def cycle(self) -> List[Op]:
        # one op of each kind: a gate (the shortest), then the batch
        # jobs, so however many cycles a run gets through, its median
        # op is a pairs op and its slowest a clusters op
        return [self.next_gate(), self.clusters_op(), self.pairs_op()]

    def warmup_ops(self) -> List[Op]:
        return self.cycle()

    def cycles(self) -> Iterator[List[Op]]:
        while True:
            yield self.cycle()

    def after_op(self, op: Op, rec: Dict) -> None:
        if op.kind != "gate":
            return
        from elephant_twin_spark.operators import lifecycle

        with lifecycle.checkpoint_scope():
            rec["candidate_pairs"] = self.lsh_index.candidate_pairs(
                self.probe_dfs[rec["probe_batch"]], "text", "doc_id"
            ).count()

    def data_bytes(self) -> int:
        return tree_bytes(self.docs)


WORKLOADS = {w.name: w for w in (Lookup, Dedup)}
